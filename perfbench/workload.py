"""Seeded workload inputs for the perfbench JVM program.

The seed is the only source of variation: it picks the PageGen row-id
ranges (the corpus), the upsert batches and the query stream. The JVM side
receives only the spec this module writes; it draws nothing at random.

Spec format: one record per line, tab-separated, first field the record kind.
"""

import random

# Corpus sizes, in PageGen pages. Chosen so that one run of any workload
# (three set-ups, the warm-up, the timed window, the output checks) ends well
# inside the per-run limit on a 4-core host.
SERVE_PAGES = 25_000
INGEST_BASE_PAGES = 25_000
# Each upsert batch: half new keys, half overwrites of live keys.
INGEST_BATCH_PAGES = 2_000
INGEST_MAX_BATCHES = 16
# Queries run on each fresh (tombstoned, unprimed) snapshot after an upsert.
INGEST_PROBES_PER_BATCH = 10
# Query-stream length: at least 200 distinct queries, more than one client
# gets through in a run, so no query repeats within the single-client pass.
STREAM_LENGTH = 600
# Warm-up queries, distinct from the measured ones, run before the timed
# window so that it measures JIT-compiled code. `ingest` warms up with its
# first upsert and that batch's probes too, so it needs fewer.
SERVE_WARMUP = 40
INGEST_WARMUP = 10
# Seeded sample of terms whose document frequency the check of the served
# index recounts.
DF_SAMPLE_TERMS = 8

SHAPES = ("term", "or", "and", "phrase", "match", "dismax", "head", "count", "fetch", "k100")
LANGS = ("en", "de", "ru", "es")
# PageGen spaces row ids 1 apart and derives the url key from the row id, so
# disjoint ranges are disjoint key sets.
ROW_SPACE = 1 << 40


def _body(rng):
    return "body%d" % rng.randrange(1000)


def _terms(rng, n):
    out = []
    while len(out) < n:
        t = _body(rng)
        if t not in out:
            out.append(t)
    return out


def _query(rng, shape):
    """One query record: shape, k, payload words."""
    if shape == "term":
        return shape, 10, [_body(rng)]
    if shape == "or":
        return shape, 10, _terms(rng, rng.randint(2, 4))
    if shape == "and":
        return shape, 10, _terms(rng, rng.randint(2, 3))
    if shape == "phrase":
        return shape, 10, [str(rng.randint(1, 3))] + _terms(rng, 2)
    if shape == "match":
        a, b, c = _terms(rng, 3)
        return shape, 10, [a, b, "-" + c]
    if shape == "dismax":
        return shape, 10, _terms(rng, rng.randint(2, 3))
    if shape == "head":
        return shape, 10, [rng.choice(LANGS), _body(rng)]
    if shape == "count":
        return shape, 0, _terms(rng, 2)
    if shape == "fetch":
        return shape, 10, _terms(rng, 2)
    if shape == "k100":
        return shape, 100, _terms(rng, rng.randint(2, 3))
    raise ValueError(shape)


def query_stream(rng, n):
    """Every block of len(SHAPES) queries holds each shape once, in seeded
    order, so the shape mix is the same for every seed and only the terms
    and the order vary."""
    out = []
    seen = set()
    while len(out) < n:
        block = list(SHAPES)
        rng.shuffle(block)
        for shape in block:
            q = _query(rng, shape)
            while (q[0], q[1], tuple(q[2])) in seen:
                q = _query(rng, shape)
            seen.add((q[0], q[1], tuple(q[2])))
            out.append(q)
    return out[:n]


def _queries(stream, measured):
    """Records of a stream whose last `measured` queries are timed and whose
    first ones are warm-up."""
    cut = len(stream) - measured
    return [["warmup" if i < cut else "query", s, str(k)] + words
            for i, (s, k, words) in enumerate(stream)]


def make_spec(workload, seed, seconds, trace, cpus):
    """Return the spec records (lists of strings) for one run."""
    rng = random.Random("perfbench/%s/%d" % (workload, seed))
    base = rng.randrange(ROW_SPACE)
    recs = [
        ["workload", workload],
        ["seed", str(seed)],
        ["seconds", str(seconds)],
        ["trace", str(int(trace))],
        ["cpus", str(cpus)],
    ]
    if workload == "serve":
        recs.append(["pages", str(base), str(SERVE_PAGES)])
        for t in rng.sample(range(1000), DF_SAMPLE_TERMS):
            recs.append(["df_term", "body%d" % t])
        recs.append(["df_term", "title%d" % rng.randrange(100)])
        recs += _queries(query_stream(rng, SERVE_WARMUP + STREAM_LENGTH), STREAM_LENGTH)
    elif workload == "ingest":
        recs.append(["pages", str(base), str(INGEST_BASE_PAGES)])
        fresh = base + INGEST_BASE_PAGES
        half = INGEST_BATCH_PAGES // 2
        live_rows = list(range(base, fresh))
        for _ in range(INGEST_MAX_BATCHES):
            # new keys: the next fresh row-id range; overwrites: the keys of
            # live rows re-indexed with the content of other fresh row ids
            over = sorted(rng.sample(live_rows, half))
            recs.append(["batch", str(fresh), str(half), str(fresh + half)] +
                        [str(o) for o in over])
            live_rows.extend(range(fresh, fresh + half))
            fresh += 2 * half
        n = INGEST_MAX_BATCHES * INGEST_PROBES_PER_BATCH
        recs += _queries(query_stream(rng, INGEST_WARMUP + n), n)
    else:
        raise ValueError("unknown workload %r" % workload)
    return recs


def render(recs):
    return "".join("\t".join(r) + "\n" for r in recs)
