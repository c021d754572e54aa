"""Seeded input generators. The same seed gives byte-identical inputs; the
program under test only ever sees the files written here.

Titles (`std_expr`, `std_join`): aliases of the bundled BLS dictionary with
seeded perturbations (case, punctuation, seniority and location words, word
drop or swap). Most rows carry a unique requisition id whose tokens push the
run's distinct tokens past the 131,072-entry stem memo cap, and the 104
pinned example titles are mixed in verbatim.

BM25 corpus (`bm25_ingest`): documents drawn from a skewed vocabulary; a
base share that set-up indexes, the append batches of the run's schedule,
and query batches that mix head and tail terms.

Every directory of rows is split into one file per Spark thread, so a batch
is read by all threads.
"""
import hashlib
import itertools
import json
import os
import random
import string

# 2,000 rows per batch: the reference's TF-IDF chunk (2,000 queries) and
# about one DuckDB vector (at most 2,048 rows per invoke), SURVEY.md §6
TITLE_BATCHES = 40
TITLE_BATCH_ROWS = 2000
REQ_ID_SHARE = 0.8

# BM25 shapes follow the repository's own BM25 scale runs (SCALE.md):
# documents of 16 tokens from a 10,000-word vocabulary whose token rank is
# 10000 * u^3 (the ScaleSmoke / PerfBm25 generator), query batches of 100
# queries made of the 6 leading tokens of indexed documents (q152's shape,
# which mixes zipf-common head terms with tail terms), appends of 2% of the
# base corpus with autoCompactAfter = 2 (the round-16 auto-compaction smoke:
# 6 appends, 3 compactions). The base size has no source at this scale: the
# smokes start at 300k documents, which a run on two threads cannot build
# (5,000 documents already take 10-17 s).
BM25_VOCAB = 10000
BM25_DOC_TOKENS = 16
BM25_BASE_DOCS = 5000
BM25_APPEND_SHARE = 0.02
BM25_QUERIES_PER_BATCH = 100
BM25_QUERY_TOKENS = 6
BM25_QUERY_BATCHES = 24
# timed appends per second of --seconds, in whole auto-compaction rounds of
# two appends: the schedule depends on --seconds only, never on the host's
# speed, so every run grows the index through the same sizes
BM25_ROUNDS_PER_SECOND = 0.3

SENIORITY = ["Senior", "Sr.", "Junior", "Jr", "Lead", "Principal", "Staff",
             "Associate", "Chief", "Head", "Entry-Level", "Trainee", "Assistant"]
GRADES = ["I", "II", "III", "IV"]
LOCATIONS = ["New York, NY", "Remote", "London", "San Francisco, CA", "Austin, TX",
             "Berlin", "Toronto, ON", "Chicago, IL", "Hybrid", "Seattle, WA",
             "Paris", "Sydney", "Denver, CO", "Boston, MA"]
ALNUM = string.ascii_lowercase + string.digits


class Sink:
    """Writes the generated files and digests their logical content (rows
    in generation order), which does not depend on the file split."""

    def __init__(self, out, parts):
        self.out, self.parts = out, parts
        self.sha = hashlib.sha256()
        self.bytes = 0

    def rows(self, rel, rows, split=True):
        """Write `(id, text)` rows to `rel`: a directory of one TSV file per
        part (round-robin), or with `split=False` a single TSV file."""
        path = os.path.join(self.out, rel)
        os.makedirs(path if split else os.path.dirname(path), exist_ok=True)
        n = self.parts if split else 1
        files = [open(os.path.join(path, "part-%d.tsv" % p) if split else path,
                      "w", encoding="utf-8") for p in range(n)]
        self.sha.update(rel.encode() + b"\0")
        for i, (rid, text) in enumerate(rows):
            line = "%d\t%s\n" % (rid, text)
            files[i % n].write(line)
            data = line.encode("utf-8")
            self.sha.update(data)
            self.bytes += len(data)
        for f in files:
            f.close()


def _dictionary(root):
    with open(os.path.join(root, "src", "main", "resources", "standarized_titles.json"),
              encoding="utf-8") as f:
        entries = json.load(f)
    return [t for e in entries if isinstance(e.get("other_titles"), list)
            for t in e["other_titles"] if isinstance(t, str)]


def _golden(root):
    path = os.path.join(root, "src", "main", "resources", "example_corpus_snapshot.tsv")
    with open(path, encoding="utf-8") as f:
        return [line.split("\t", 1)[0] for line in f.read().split("\n") if line]


def _perturb(alias, rng):
    words = alias.split()
    if len(words) > 1 and rng.random() < 0.15:
        del words[rng.randrange(len(words))]
    if len(words) > 1 and rng.random() < 0.10:
        i = rng.randrange(len(words) - 1)
        words[i], words[i + 1] = words[i + 1], words[i]
    r = rng.random()
    if r < 0.30:
        words.insert(0, rng.choice(SENIORITY))
    elif r < 0.38:
        words.append(rng.choice(GRADES))
    title = " ".join(words)
    r = rng.random()
    if r < 0.12:
        title = title.replace(" ", " / ", 1)
    elif r < 0.18:
        title = title.replace(" and ", " & ")
    elif r < 0.22:
        title = "*" + title + "!"
    r = rng.random()
    if r < 0.15:
        title += " - " + rng.choice(LOCATIONS)
    elif r < 0.25:
        title += " (" + rng.choice(LOCATIONS) + ")"
    r = rng.random()
    if r < 0.20:
        title = title.lower()
    elif r < 0.32:
        title = title.upper()
    elif r < 0.45:
        title = title.title()
    return title


def _base36(n):
    s = ""
    while True:
        n, d = divmod(n, 36)
        s = "0123456789abcdefghijklmnopqrstuvwxyz"[d] + s
        if n == 0:
            return s


def titles(root, sink, seed):
    rng = random.Random("titles-%d" % seed)
    corpus = _dictionary(root)
    golden = _golden(root)
    n = TITLE_BATCHES * TITLE_BATCH_ROWS
    golden_at = dict(zip(rng.sample(range(n), len(golden)), golden))
    rows = []
    for i in range(n):
        if i in golden_at:
            rows.append((i, golden_at[i]))
            continue
        title = _perturb(rng.choice(corpus), rng)
        if rng.random() < REQ_ID_SHARE:
            # two tokens that no other row carries: the row index in base 36
            # plus a random suffix
            req = "R%s%s-%s" % (_base36(i), "".join(rng.choice(ALNUM) for _ in range(2)),
                                "".join(rng.choice(ALNUM) for _ in range(6)))
            title = ("[%s] %s" % (req.upper(), title) if rng.random() < 0.5
                     else "%s (Req #%s)" % (title, req))
        rows.append((i, title))
    for b in range(TITLE_BATCHES):
        sink.rows("titles/b%05d" % b, rows[b * TITLE_BATCH_ROWS:(b + 1) * TITLE_BATCH_ROWS])


def bm25_appends(seconds):
    """Timed appends of a `bm25_ingest` run of `seconds` (an even number)."""
    return 2 * max(1, round(seconds * BM25_ROUNDS_PER_SECOND))


def bm25(sink, seed, seconds):
    rng = random.Random("bm25-%d" % seed)
    next_id = itertools.count()

    def token():
        u = rng.randrange(BM25_VOCAB) / BM25_VOCAB
        return "w%d" % int(u * u * u * BM25_VOCAB)

    def docs(count):
        return [(next(next_id), " ".join(token() for _ in range(BM25_DOC_TOKENS)))
                for _ in range(count)]

    base = docs(BM25_BASE_DOCS)
    sink.rows("bm25/base", base)
    # one more append than the schedule: set-up's warmup append
    append_docs = round(BM25_BASE_DOCS * BM25_APPEND_SHARE)
    for b in range(bm25_appends(seconds) + 1):
        sink.rows("bm25/append/a%04d" % b, docs(append_docs))

    def queries(count):
        # the distinct leading tokens of a random base document
        rows = []
        for q in range(count):
            lead = base[rng.randrange(len(base))][1].split()[:BM25_QUERY_TOKENS]
            rows += [(q, t) for t in sorted(set(lead))]
        return rows

    for b in range(BM25_QUERY_BATCHES):
        sink.rows("bm25/queries/q%04d.tsv" % b, queries(BM25_QUERIES_PER_BATCH), split=False)
    sink.rows("bm25/check_queries.tsv", queries(BM25_QUERIES_PER_BATCH), split=False)


def generate(root, out, workload, seed, seconds, parts):
    """Write the inputs of `workload` under `out`, split `parts` ways;
    returns (sha256 of the logical content, bytes)."""
    sink = Sink(out, parts)
    if workload == "bm25_ingest":
        bm25(sink, seed, seconds)
    else:
        titles(root, sink, seed)
    return sink.sha.hexdigest(), sink.bytes
