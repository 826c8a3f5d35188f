"""Independent reference for the reviews -> chi-squared pipeline.

Re-implements the reference mrjob jobs in plain Python, without Spark:

* job 1 (wordCountJob.py): per review, ``json.loads`` (any error drops the
  line), ``category`` defaulting to ``'Unknown'`` and ``reviewText`` to
  ``''``, ``lower()``, every character of the stripped class mapped to a
  space, ``split()``, one ``set`` per review, stopword and empty-word
  filter, then document frequency per (word, category) and the review
  counters;
* job 2 (chiSquaredJob.py): chi-squared from the 2x2 contingency table with
  Python integers and true division, top 75 per category by score (ties by
  word ascending, the engine's documented deterministic tiebreak), and the
  RawProtocol lines: ``Category<TAB>{repr dict}`` sorted by category, then
  the sorted union vocabulary as a repr list.

Returns the exact bytes of ``chisq.txt`` and ``counters.txt``.
"""
import json
from collections import defaultdict

STRIPPED = "()[]{}.!?,;:+=-_\"~#@&*%€$§/\\0123456789\t'"
_TABLE = str.maketrans({c: " " for c in STRIPPED})


def load_stopwords(path):
    with open(path, encoding="utf-8") as f:
        return {line.strip() for line in f if line.strip()}


def expected(review_path, stopwords, k=75):
    df = defaultdict(lambda: defaultdict(int))   # word -> category -> n
    cat_counts = defaultdict(int)
    total = 0
    with open(review_path, encoding="utf-8") as f:
        for line in f:
            try:
                obj = json.loads(line)
                category = obj.get("category", "Unknown")
                text = obj.get("reviewText", "").lower()
            except Exception:
                continue
            total += 1
            cat_counts[category] += 1
            for word in set(text.translate(_TABLE).split()):
                if word and word not in stopwords:
                    df[word][category] += 1

    n = total
    top = {}
    for word, d in df.items():
        word_total = sum(d.values())
        for cat, a in d.items():
            b = word_total - a
            c = cat_counts[cat] - a
            dd = n - a - b - c
            den = (a + b) * (a + c) * (b + dd) * (c + dd)
            if den == 0:
                continue
            chi2 = n * (a * dd - b * c) ** 2 / den
            top.setdefault(cat, []).append((-chi2, word))
    lines = []
    vocab = set()
    for cat in sorted(top):
        best = sorted(top[cat])[:k]
        vocab.update(w for _, w in best)
        lines.append(cat + "\t" + repr({w: -s for s, w in best}))
    lines.append(repr(sorted(vocab)))
    chisq = ("\n".join(lines) + "\n").encode("utf-8")
    counters = (f"{total} " + repr(dict(sorted(cat_counts.items())))
                + "\n").encode("utf-8")
    return chisq, counters
