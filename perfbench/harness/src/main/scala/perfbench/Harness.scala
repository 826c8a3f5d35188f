package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Verify}
import graft.chisq.ChiSquare
import graft.model.{PipelineCounters, Tables}
import graft.pipeline.Main
import graft.text.TextOps
import graft.wordcount.WordCount

/** Drives the engine through its public entry points for one benchmark
  * run and records what happened; `perfbench/run.py` turns the records
  * into metrics.
  *
  * Usage: perfbench.Harness <run.properties>
  *
  * A run is `setups` set-ups (a fresh SparkContext from `Verify.session`
  * plus one untimed pass whose outputs are checked), then measured passes
  * until `seconds` have elapsed (at least `min_passes`). Every pass runs in
  * its own `newSession()`, so memos keyed by session identity start cold.
  * With `trace=1` measured passes alternate plain and traced: a traced pass
  * tags each public call with a span id that a listener reads from the job
  * properties, and (reviews) also times the nested layer prefixes.
  *
  * Output, under `work`: spans.jsonl (every span), and for traced runs
  * spanstats.jsonl (listener totals per span) and stages.jsonl (task times
  * per stage), plus run.json (set-up times, heap per pass, failures).
  */
object Harness {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, pass: Int,
      traced: Boolean, start: Long, var end: Long = 0L, var ok: Boolean = true,
      var rows: Map[String, Long] = Map.empty)

  def main(args: Array[String]): Unit = {
    val p = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)), UTF_8)
    try p.load(in) finally in.close()
    new Harness(p).run()
  }

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Listener totals per span; mutated only on the listener-bus thread and
  * read after the bus has drained. */
final class Recorder extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, shufRead, shufWrite, spill, written = 0L
  }
  val acc = mutable.Map[Int, Acc]()
  private val stageSpan = mutable.Map[Int, Int]()
  // (stageId, attempt) -> (span, task durations ms, executor run ms)
  val stageTasks = mutable.Map[(Int, Int), (Int, ArrayBuffer[Long], Array[Long])]()

  private def of(span: Int) = acc.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Harness.SpanKey))).map(_.toInt).getOrElse(-1)
    of(span).jobs += 1
    e.stageInfos.foreach(si => stageSpan.getOrElseUpdate(si.stageId, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    of(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrElse(e.stageId, -1)
    val a = of(span)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shufRead += m.shuffleReadMetrics.totalBytesRead
      a.shufWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.written += m.outputMetrics.bytesWritten
      val st = stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
        (span, ArrayBuffer[Long](), Array(0L)))
      st._2 += e.taskInfo.duration
      st._3(0) += m.executorRunTime
    }
  }
}

final class Harness(p: java.util.Properties) {
  import Harness._

  private def prop(k: String): String =
    Option(p.getProperty(k)).getOrElse(sys.error(s"missing property $k"))

  private val workload = prop("workload")
  private val seconds = prop("seconds").toDouble
  private val trace = prop("trace") == "1"
  private val cores = prop("cores")
  private val setups = prop("setups").toInt
  private val minPasses = prop("min_passes").toInt
  private val work = Paths.get(prop("work"))
  private val localDir = work.resolve("spark-local").toString

  private val spans = ArrayBuffer[Span]()
  private val setupSeconds = ArrayBuffer[Double]()
  private val heapPeaks = ArrayBuffer[Long]()
  private val passCpu = ArrayBuffer[Double]()
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val failures = ArrayBuffer[String]()
  private var malformed = -1L
  private var attempted = 0
  private var current = -1
  private var tracing = false
  private var spark: SparkSession = _

  // -------- heap: peak of heap-after-GC, from the GC notifications --------
  @volatile private var heapPeak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener(new NotificationListener {
        def handleNotification(n: javax.management.Notification, h: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            heapPeak = math.max(heapPeak, used)
          }
      }, null, null)
    case _ =>
  }

  private def quiesceHeap(): Unit = {
    System.gc()
    Thread.sleep(20)
    heapPeak = 0L
  }

  private def passHeapPeak(): Long = {
    System.gc()
    val after = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    math.max(heapPeak, after)
  }

  // -------- spans --------
  private def span[T](name: String, pass: Int)(f: Span => T): T = {
    val parent = current
    val s = Span(spans.size, name, parent, pass, tracing, System.nanoTime())
    spans += s
    current = s.id
    if (tracing) spark.sparkContext.setLocalProperty(SpanKey, s.id.toString)
    try f(s)
    finally {
      s.end = System.nanoTime()
      current = parent
      if (tracing) spark.sparkContext.setLocalProperty(SpanKey,
        if (parent < 0) null else parent.toString)
    }
  }

  /** One operation: counts as attempted; fails on a throw or a false
    * result. */
  private def op(name: String, pass: Int)(f: Span => Boolean): Unit = {
    attempted += 1
    span(name, pass) { s =>
      val why = try { if (f(s)) None else Some("wrong output") }
        catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString) }
      why.foreach { w => s.ok = false; failures += s"$name (pass $pass): $w" }
    }
  }

  /** A fresh session on the current context, set up as `Verify.session`
    * sets one up. */
  private def freshSession(): SparkSession = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (k.startsWith("spark.sql.") && s.conf.isModifiable(k)) s.conf.set(k, v)
    }
    graft.functions.Registry.ensure(s)
    s.experimental.extraOptimizations = Seq(graft.plans.RewriteDotProduct)
    s
  }

  // -------- workloads --------
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private lazy val queries = SparkEntry.queries
  private lazy val queryNames = prop("queries").split(",").toSeq
  private lazy val dataDir = prop("data")

  /** One pass of declared queries, in the seeded order rotated by the pass
    * number, so every run runs each query in every position. `checkDir`
    * set: results are written as parquet there for the DuckDB check;
    * otherwise to the `noop` sink. */
  private def queryPass(s: SparkSession, pass: Int, checkDir: Option[Path]): Unit = {
    val k = math.abs(pass) % queryNames.size
    (queryNames.drop(k) ++ queryNames.take(k)).foreach { name =>
      op(s"q:$name", pass) { sp =>
        val fn = queries(name)
        val df = span("construct", pass)(_ => fn(s, dataDir))
        val obs = if (tracing) Some(Observation()) else None
        val out = obs.fold(df)(o => df.observe(o, count(lit(1)).as("rows")))
        span("execute", pass) { _ =>
          checkDir match {
            case Some(d) => out.write.mode("overwrite").parquet(d.resolve(name).toString)
            case None => noop(out)
          }
        }
        obs.foreach(o => sp.rows = Map("rows" -> o.get("rows").asInstanceOf[Long]))
        true
      }
    }
  }

  private lazy val reviewsInput = prop("reviews")
  private lazy val stopPath = prop("stopwords")
  private lazy val expectedChisq = Files.readAllBytes(Paths.get(prop("expected_chisq")))
  private lazy val expectedCounters = Files.readAllBytes(Paths.get(prop("expected_counters")))
  private lazy val stopwords: Set[String] =
    Files.readAllLines(Paths.get(stopPath)).asScala.map(_.trim).filter(_.nonEmpty).toSet

  /** One `Main.run`; its chisq.txt and counters.txt must equal the
    * reference checker's bytes. */
  private def reviewsPass(s: SparkSession, pass: Int): Unit = {
    val out = work.resolve(s"out/p$pass")
    op("pipeline.run", pass) { _ =>
      val c = Main.run(s, reviewsInput, stopPath, out.toString, 75)
      malformed = c.malformedLines.value
      java.util.Arrays.equals(Files.readAllBytes(out.resolve("chisq.txt")), expectedChisq) &&
      java.util.Arrays.equals(Files.readAllBytes(out.resolve("counters.txt")), expectedCounters)
    }
  }

  /** Nested prefixes of the reviews pipeline on the unmaterialized frame:
    * parse, +tokenize, +document frequency, +chi-squared/top-k. Each runs
    * to the `noop` sink; a layer's time is the difference between adjacent
    * prefixes. */
  private def reviewsPrefixes(s: SparkSession, pass: Int): Unit = {
    def parsed = Tables.reviews(s, reviewsInput, Some(PipelineCounters(s)))
    def pruned = parsed.select(col("reviewText").as("text"), col("category"))
    def docFreq = WordCount.documentFrequency(pruned, col("text"), col("category"), stopwords)
    def observed(o: Observation): Map[String, Long] =
      o.get.map { case (k, v) => k -> v.asInstanceOf[Number].longValue }.toMap
    def prefix(name: String)(build: => (DataFrame, Seq[Observation])): Unit =
      op(name, pass) { sp =>
        val (df, obs) = span("construct", pass)(_ => build)
        span("execute", pass)(_ => noop(df))
        sp.rows = obs.map(observed).reduce(_ ++ _)
        true
      }
    prefix("prefix.parse") {
      val o = Observation()
      (parsed.observe(o, count(lit(1)).as("rows_in")), Seq(o))
    }
    prefix("prefix.tokenize") {
      val o = Observation()
      (parsed.select(col("category"), TextOps.reviewTokens(col("reviewText")).as("tokens"))
        .observe(o, coalesce(sum(size(col("tokens"))), lit(0L)).as("tokens")), Seq(o))
    }
    prefix("prefix.docfreq") {
      val o = Observation()
      (docFreq.observe(o, count(lit(1)).as("pairs_out")), Seq(o))
    }
    prefix("prefix.chisq") {
      val totals = WordCount.categoryTotals(pruned, col("category"))
      val total = totals.collect().map(_.getLong(1)).sum
      val so, to = Observation()
      val scored = ChiSquare.scoreExact(docFreq, totals, total)
        .observe(so, count(lit(1)).as("scored_rows"))
      (ChiSquare.topKPerCategory(scored, 75)
        .observe(to, count(lit(1)).as("topk_rows")), Seq(so, to))
    }
  }

  private def onePass(s: SparkSession, pass: Int, setup: Boolean): Unit =
    span("pass", pass) { _ =>
      workload match {
        case "reviews_chisq" =>
          reviewsPass(s, pass)
          if (tracing) reviewsPrefixes(s, pass)
        case _ =>
          queryPass(s, pass,
            if (setup) Some(work.resolve(s"check/s${-pass}")) else None)
      }
    }

  def run(): Unit = {
    Files.createDirectories(work)
    val recorder = new Recorder
    for (i <- 1 to setups) {
      if (spark != null) { spark.stop(); spark = null }
      quiesceHeap()
      val t0 = System.nanoTime()
      spark = Verify.session(cores, localDir)
      onePass(freshSession(), -i, setup = true)
      setupSeconds += (System.nanoTime() - t0) / 1e9
    }
    // measured passes: at least `minPasses`, and no pass is started that
    // would, at the median pass time so far, end after `seconds`
    val start = System.nanoTime()
    val took = ArrayBuffer[Double]()
    def elapsed = (System.nanoTime() - start) / 1e9
    def median = took.sorted.apply(took.size / 2)
    var pass = 0
    while (pass < minPasses || (took.nonEmpty && elapsed + median <= seconds)) {
      pass += 1
      val t0 = System.nanoTime()
      tracing = trace && pass % 2 == 0
      if (tracing) spark.sparkContext.addSparkListener(recorder)
      val s = freshSession()
      quiesceHeap()
      val cpu0 = osBean.getProcessCpuTime
      onePass(s, pass, setup = false)
      passCpu += (osBean.getProcessCpuTime - cpu0) / 1e9
      heapPeaks += passHeapPeak()
      if (tracing) {
        org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(recorder)
      }
      tracing = false
      took += (System.nanoTime() - t0) / 1e9
    }
    spark.stop()
    deleteTree(work.resolve("out"))
    write(recorder)
  }

  // -------- output --------
  private def write(rec: Recorder): Unit = {
    def lines(path: String, ls: Iterable[String]): Unit =
      Files.write(work.resolve(path), ls.mkString("", "\n", "\n").getBytes(UTF_8))
    lines("spans.jsonl", spans.map { s =>
      val rows = s.rows.map { case (k, v) => s"${jsonStr(k)}: $v" }.mkString("{", ", ", "}")
      s"""{"id": ${s.id}, "name": ${jsonStr(s.name)}, "parent": ${s.parent}, """ +
        s""""pass": ${s.pass}, "traced": ${s.traced}, "start_ns": ${s.start}, """ +
        s""""end_ns": ${s.end}, "ok": ${s.ok}, "rows": $rows}"""
    })
    lines("spanstats.jsonl", rec.acc.toSeq.sortBy(_._1).map { case (id, a) =>
      s"""{"span": $id, "jobs": ${a.jobs}, "stages": ${a.stages}, "tasks": ${a.tasks}, """ +
        s""""run_ms": ${a.runMs}, "cpu_ns": ${a.cpuNs}, "gc_ms": ${a.gcMs}, """ +
        s""""shuffle_read": ${a.shufRead}, "shuffle_write": ${a.shufWrite}, """ +
        s""""spill": ${a.spill}, "written": ${a.written}}"""
    })
    lines("stages.jsonl", rec.stageTasks.toSeq.sortBy(_._1).map {
      case ((stage, attempt), (span, durs, run)) =>
        val sorted = durs.sorted
        s"""{"stage": $stage, "attempt": $attempt, "span": $span, "tasks": ${sorted.size}, """ +
          s""""run_ms": ${run(0)}, "max_task_ms": ${sorted.last}, """ +
          s""""median_task_ms": ${sorted(sorted.size / 2)}}"""
    })
    val fails = failures.map(jsonStr).mkString("[", ", ", "]")
    Files.writeString(work.resolve("run.json"),
      s"""{"setup_s": ${setupSeconds.mkString("[", ", ", "]")}, """ +
        s""""heap_peak_bytes": ${heapPeaks.mkString("[", ", ", "]")}, """ +
        s""""pass_cpu_s": ${passCpu.mkString("[", ", ", "]")}, """ +
        s""""heap_max_bytes": ${Runtime.getRuntime.maxMemory}, "cores": $cores, """ +
        s""""attempted": $attempted, "failures": $fails, "malformed_rows": $malformed}""" + "\n")
    if (workload != "reviews_chisq") {
      val sql = SparkEntry.oracleSql
      Files.writeString(work.resolve("oracle_sql.json"), queryNames
        .map(n => s"${jsonStr(n)}: ${jsonStr(sql.getOrElse(n, ""))}").mkString("{", ", ", "}"))
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
