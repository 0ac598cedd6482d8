"""Workload definitions: which ops each workload runs, in which order,
with which literals — all a pure function of the seed.

Ops (one client call each):
  registry  one `SparkEntry.queries(name)(spark, sfDir)` query
  gate      one SQL text through `QueryGate.sql` (some must be rejected)
  ingest    one `CorpusIndex` append + incremental dedup + read cycle
"""
import random
import re

import datagen

# Registry queries that read `documents` or `embeddings` (directly, via
# CorpusIndex artifacts, or via a helper that does), by q-number. The
# iterative graph queries q105/q126 join them. Everything else in the
# registry is a tool call.
CORPUS_QUERIES = {
    24, 25, 31, 32, 33, 37, 38, 39, 40, 41, 42, 44, 45, 53, 54, 55, 57, 58,
    60, 61, 64, 65, 66, 67, 68, 69, 70, 71, 72, 73, 74, 75, 76, 77, 78, 80,
    81, 82, 83, 84, 85, 86, 87, 88, 89, 90, 91, 92, 93, 94, 95, 96, 97, 98,
    100, 101, 102, 103, 104, 106, 107, 108, 109, 113, 114, 115, 116, 117,
    118, 121, 122, 125, 127, 128, 133, 134, 135, 136, 139, 140, 141, 143,
    144, 145, 146, 147, 149, 156, 157, 158, 164, 165, 171, 172, 190, 194,
    197, 199, 204, 208, 209}
GRAPH_QUERIES = {105, 126}


def qnum(name):
    return int(re.match(r"q(\d+)", name).group(1))


def is_extraction(n):
    return n in (79, 99) or n >= 148


def classify(names):
    """Split the registry into (tool tables, tool extraction, corpus)."""
    ordered = sorted(names, key=qnum)
    corpus = [q for q in ordered if qnum(q) in CORPUS_QUERIES | GRAPH_QUERIES]
    tool = [q for q in ordered if q not in corpus]
    extraction = [q for q in tool if is_extraction(qnum(q))]
    tables = [q for q in tool if not is_extraction(qnum(q))]
    return tables, extraction, corpus


# Every k-th registry query of a class (registry order), so two passes fit
# the run window; the graph loops always run in corpus-batch (they are the
# iterative build-layer paths). `--sample all` runs every query of the class.
SAMPLE_EVERY = {"tables": 32, "extraction": 32, "corpus": 32}

GATE_SELECTS = 11
GATE_REJECTS = 1
INGEST_BATCH = 24
INGEST_PLANTED = 6
INGEST_CYCLES_PER_PASS = 1
MIN_JACCARD = 0.5


def gate_select(rng, t):
    """A SELECT from template t (0-7) over the `Engine.open` views, with
    seed-drawn literals. Sums are integer cents so Spark and DuckDB agree
    bit for bit."""
    if t == 0:
        return (f"SELECT c_mktsegment, count(*) AS n, "
                f"CAST(sum(round(c_acctbal * 100)) AS BIGINT) AS bal_cents FROM customer "
                f"WHERE c_acctbal >= {rng.randint(-900, 9000)} AND c_nationkey = {rng.randrange(25)} "
                f"GROUP BY c_mktsegment ORDER BY c_mktsegment")
    if t == 1:
        y = rng.randint(1995, 2000)
        return (f"SELECT o_orderpriority, count(*) AS n_orders, "
                f"CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS total_cents FROM orders "
                f"WHERE o_orderdate >= TIMESTAMP '{y}-{rng.randint(1, 12):02d}-01 00:00:00' "
                f"AND o_orderdate < TIMESTAMP '{y + 1}-{rng.randint(1, 12):02d}-01 00:00:00' "
                f"AND o_orderstatus = '{rng.choice('FOP')}' "
                f"GROUP BY o_orderpriority ORDER BY o_orderpriority")
    if t == 2:
        y = rng.randint(1995, 2000)
        return (f"SELECT n_name, count(*) AS n_orders, "
                f"CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS total_cents "
                f"FROM orders JOIN customer ON o_custkey = c_custkey "
                f"JOIN nation ON c_nationkey = n_nationkey "
                f"WHERE o_orderdate >= TIMESTAMP '{y}-01-01 00:00:00' "
                f"AND o_orderdate < TIMESTAMP '{y + 1}-01-01 00:00:00' "
                f"AND c_mktsegment = '{rng.choice(datagen.SEGMENTS)}' AND n_regionkey = {rng.randrange(5)} "
                f"GROUP BY n_name ORDER BY n_name")
    if t == 3:
        m = rng.choice([3, 7, 11, 13])
        return (f"SELECT event_type, count(*) AS n, "
                f"CAST(sum(round(value * 100)) AS BIGINT) AS value_cents, min(event_id) AS first_id "
                f"FROM events WHERE user_id % {m} = {rng.randrange(m)} "
                f"AND ts >= TIMESTAMP '2024-01-{rng.randint(1, 28):02d} 00:00:00' "
                f"GROUP BY event_type ORDER BY event_type")
    if t == 4:
        a = rng.randint(1, 40)
        return (f"SELECT p_brand, count(*) AS n_parts, max(p_size) AS max_size FROM part "
                f"WHERE p_size BETWEEN {a} AND {a + rng.randint(3, 10)} "
                f"AND p_type = '{rng.choice(datagen.PART_TYPES)}' "
                f"GROUP BY p_brand ORDER BY n_parts DESC, p_brand LIMIT 10")
    if t == 5:
        return (f"SELECT c_nationkey, c_custkey, c_acctbal, rk FROM ("
                f"SELECT c_nationkey, c_custkey, c_acctbal, row_number() OVER ("
                f"PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk "
                f"FROM customer WHERE c_mktsegment = '{rng.choice(datagen.SEGMENTS)}') t "
                f"WHERE rk <= {rng.randint(1, 5)} ORDER BY c_nationkey, rk")
    if t == 6:
        return (f"SELECT s_nationkey, count(*) AS n_sup, max(s_acctbal) AS max_bal FROM supplier "
                f"WHERE s_acctbal > {rng.randint(-900, 9000)} AND s_nationkey IN ("
                f"SELECT n_nationkey FROM nation WHERE n_regionkey = {rng.randrange(5)}) "
                f"GROUP BY s_nationkey ORDER BY s_nationkey")
    y = rng.randint(1995, 2001)
    return (f"SELECT l_linestatus, l_returnflag, count(*) AS n, "
            f"CAST(sum(l_quantity) AS BIGINT) AS qty, max(l_extendedprice) AS max_price "
            f"FROM lineitem WHERE l_shipdate >= TIMESTAMP '{y}-01-01 00:00:00' "
            f"AND l_shipdate < TIMESTAMP '{y}-{rng.randint(2, 12):02d}-01 00:00:00' "
            f"AND l_tax <= {rng.randrange(9) / 100 + 0.005:.3f} "
            f"GROUP BY l_linestatus, l_returnflag ORDER BY l_linestatus, l_returnflag")


def gate_reject(rng):
    """One non-SELECT statement the gate must refuse (never executed)."""
    t = rng.choice(["customer", "orders", "lineitem", "events", "part"])
    return rng.choice([
        f"DROP TABLE {t}",
        f"INSERT INTO {t} SELECT * FROM {t}",
        f"DELETE FROM {t}",
        f"CREATE TABLE {t}_copy AS SELECT * FROM {t}",
        f"/* cleanup */ DROP TABLE {t} -- done",
        f"CACHE TABLE {t}",
    ])


def shingles(text, k=3):
    """The engine's k-shingle set: whitespace tokens, lower-cased; a text
    shorter than k tokens is one shingle."""
    toks = text.strip().lower().split()
    if not toks:
        return frozenset()
    if len(toks) < k:
        return frozenset([tuple(toks)])
    return frozenset(tuple(toks[i:i + k]) for i in range(len(toks) - k + 1))


def jaccard(a, b):
    if not a and not b:
        return 1.0
    return len(a & b) / len(a | b)


def ingest_batches(rng, corpus_texts, n_cycles):
    """Seeded new-document batches. Ids sit above the corpus maximum; the
    first INGEST_PLANTED docs of each batch are perturbed copies (one or
    two appended words) of corpus docs with >= 30 words, so each planted
    pair has shingle Jaccard >= 0.93 and banded MinHash finds it."""
    base_id = 1_000_000
    long_docs = [i for i, t in enumerate(corpus_texts) if len(t.split()) >= 30]
    batches = []
    for c in range(n_cycles):
        ids, texts, planted = [], [], []
        for j in range(INGEST_BATCH):
            doc_id = base_id + c * INGEST_BATCH + j
            if j < INGEST_PLANTED:
                src = rng.choice(long_docs)
                extra = " ".join(rng.choice(datagen.VOCAB) for _ in range(rng.randint(1, 2)))
                texts.append(corpus_texts[src] + " " + extra)
                planted.append([doc_id, src])
            else:
                texts.append(" ".join(rng.choice(datagen.VOCAB) for _ in range(rng.randint(10, 100))))
            ids.append(doc_id)
        batches.append({"ids": ids, "texts": texts, "planted": planted})
    return batches


def _with_cycles(rng, reads, corpus_texts, n_passes):
    """Each pass: the read ops in seeded order with this pass's ingest
    cycles (new batches every pass) inserted at seeded positions."""
    batches = ingest_batches(rng, corpus_texts, n_passes * INGEST_CYCLES_PER_PASS)
    ops = reads + [{"id": f"i:{c}", "kind": "ingest", "cycle": c} for c in range(len(batches))]
    passes = []
    for p in range(n_passes):
        order = list(range(len(reads)))
        rng.shuffle(order)
        slots = sorted(rng.randint(0, len(reads)) for _ in range(INGEST_CYCLES_PER_PASS))
        for k, slot in enumerate(slots):  # cycles keep their (id) order
            order.insert(slot + k, len(reads) + p * INGEST_CYCLES_PER_PASS + k)
        passes.append(order)
    return ops, passes, batches


def registry_ops(workload, registry, sample="default"):
    """The registry queries a workload runs, in registry order."""
    tables, extraction, corpus = classify(registry)

    def pick(lst, cls):
        if sample == "all":
            return lst
        every = lst[::SAMPLE_EVERY[cls]]
        return every + [q for q in lst if qnum(q) in GRAPH_QUERIES and q not in every]

    if workload == "tool-calls":
        return pick(tables, "tables") + pick(extraction, "extraction")
    if workload == "corpus-batch":
        return pick(corpus, "corpus")
    raise ValueError(f"unknown workload {workload}")


def make(workload, seed, registry, corpus_texts=None, sample="default", n_passes=60):
    """Return (ops, passes, batches): ops are dicts, passes lists of op
    indices (seed-shuffled per pass), batches the ingest inputs."""
    rng = random.Random(f"{workload}:{seed}")
    reads = [{"id": f"r:{q}", "kind": "registry", "name": q}
             for q in registry_ops(workload, registry, sample)]
    if workload == "corpus-batch":
        return _with_cycles(rng, reads, corpus_texts, n_passes)
    # the template mix is fixed; the seed draws the literals
    ops = reads + [{"id": f"g:{i}", "kind": "gate", "sql": gate_select(rng, i % 8)}
                   for i in range(GATE_SELECTS)]
    ops += [{"id": f"x:{i}", "kind": "gate", "sql": gate_reject(rng), "reject": True}
            for i in range(GATE_REJECTS)]
    passes = []
    for _ in range(n_passes):
        order = list(range(len(ops)))
        rng.shuffle(order)
        passes.append(order)
    return ops, passes, []


# The first warm pass of each workload. The passes before it still spend
# much of their CPU in the JIT compiler (8-12 s of compile time in pass 1
# of tool-calls); corpus-batch's pass 2 still ran 10-20% slower, and
# less steadily, than its pass 3.
WARM_PASS = {"tool-calls": 2, "corpus-batch": 3}


def traced_passes(n_passes, warm):
    """Which passes a traced run traces. Passes before `warm` are
    untraced. From it on the passes pair up, (warm, warm + 1), ..., one
    traced and one not, and the traced one goes first in every other
    pair, so neither JIT warm-up nor the growing ingest index favours one
    side of a pair."""
    return [p >= warm and ((p - warm) % 2 == 0) == ((p - warm) // 2 % 2 == 0)
            for p in range(n_passes)]


WORKLOADS = ("tool-calls", "corpus-batch")
