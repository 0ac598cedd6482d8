"""Result checks, run after the timed window: registry and gate ops against
DuckDB over the same parquet, ingest cycles against planted pairs and
recomputed shingle Jaccard."""
import hashlib
import json
import os

import duckdb

import metrics
import plan


class Oracle:
    """DuckDB over the benchmark's tables, with a digest cache on disk
    keyed by (data stamp, SQL text) — the data never changes within a
    checkout, so each oracle query runs once."""

    def __init__(self, data_dir, cache_file, data_stamp):
        self.data_dir = data_dir
        self.cache_file = cache_file
        self.data_stamp = data_stamp
        self.cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
        self.con = None
        self.dirty = False

    def _connect(self):
        if self.con is None:
            self.con = duckdb.connect()
            self.con.execute("SET threads TO 2")
            # spill files stay beside the cache, inside the checkout
            self.con.execute(f"SET temp_directory = '{self.cache_file}.spill'")
            for t in ("region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"):
                p = os.path.join(self.data_dir, f"{t}.parquet")
                if os.path.exists(p):
                    self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return self.con

    def digest(self, sql):
        """(digest, rows) of the oracle's answer, or (None, error text)."""
        key = hashlib.sha256((self.data_stamp + "\0" + sql).encode()).hexdigest()[:24]
        hit = self.cache.get(key)
        if hit is None:
            try:
                df = self._connect().execute(sql).df()
                hit = [metrics.digest(df), len(df)]
            except Exception as e:  # an oracle that errors is a failed check
                hit = [None, f"oracle error: {str(e)[:200]}"]
            self.cache[key] = hit
            self.dirty = True
        return hit

    def save(self):
        if self.dirty:
            tmp = self.cache_file + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(self.cache, fh)
            os.replace(tmp, self.cache_file)
            self.dirty = False

    def close(self):
        self.save()
        if self.con is not None:
            self.con.close()


def check_query(oracle, sql, result):
    """None when the engine's rows match the oracle's, else the reason."""
    if sql is None:
        return "no oracle SQL"
    want, info = oracle.digest(sql)
    if want is None:
        return info
    got = metrics.digest(metrics.frame(result["columns"], result["rows"]))
    if got != want:
        return f"result differs from oracle ({len(result['rows'])} rows vs {info})"
    return None


def check_ingest(rec, batch, texts_by_id):
    """None when the cycle is right: every planted pair reported, every
    reported pair above the threshold by exact shingle Jaccard, and the
    fingerprint lookup returns exactly the batch."""
    reported = {(min(a, b), max(a, b)) for a, b, _ in rec["pairs"]}
    for new_id, src in batch["planted"]:
        if (min(new_id, src), max(new_id, src)) not in reported:
            return f"planted pair ({src}, {new_id}) missing"
    for a, b in reported:
        j = plan.jaccard(plan.shingles(texts_by_id[a]), plan.shingles(texts_by_id[b]))
        if j < plan.MIN_JACCARD:
            return f"pair ({a}, {b}) has shingle Jaccard {j:.4f} < {plan.MIN_JACCARD}"
    if sorted(rec["lookup"]) != sorted(batch["ids"]):
        return f"fingerprint lookup returned {len(rec['lookup'])} ids for {len(batch['ids'])} docs"
    return None
