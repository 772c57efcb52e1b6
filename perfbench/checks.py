"""Output checks, run untimed after the timed passes of every run.

The rows checked are the ones the cold pass fetched. Oracle-backed queries
must hash-match DuckDB running ``oracle_sql()`` on the run's own inputs,
with the value normalisation of ``tools/oracle_check.py``; the oracle's
digest is cached next to the inputs, keyed by the SQL text. The four
rows-only queries are checked against the invariants
``tests/test_sketches.py`` asserts.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import threading
from concurrent.futures import ThreadPoolExecutor

import duckdb

ANN_RECALL_FLOOR = 0.6
APPROX_DISTINCT_TOL = 0.1
HAMMING_MAX = 3


def _load_module(path: str, name: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Checker:
    def __init__(self, root: str, spark, table_dir: str, oracles: dict, collected: dict) -> None:
        self.spark = spark
        self.table_dir = table_dir
        self.norm = _load_module(os.path.join(root, "tools", "oracle_check.py"), "oracle_check")._norm
        self.oracles = oracles
        self.tables = sorted(f[:-8] for f in os.listdir(table_dir) if f.endswith(".parquet"))
        self.con = duckdb.connect()
        for t in self.tables:
            path = os.path.join(table_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        # Oracle results depend only on the inputs and the SQL, so they are
        # kept next to the inputs and reused when both are unchanged.
        self.cache_path = os.path.join(table_dir, "oracle_digests.json")
        self.cache: dict = {}
        if os.path.exists(self.cache_path):
            with open(self.cache_path) as f:
                self.cache = json.load(f)
        self._lock = threading.Lock()
        self.cols = {name: sorted(cols) for name, (cols, _) in collected.items()}
        # name -> list of {column: value} rows
        self.rows = {
            name: [dict(zip(cols, r)) for r in rows] for name, (cols, rows) in collected.items()
        }

    def check_all(self, names: list[str], errors: dict[str, str]) -> dict[str, str | None]:
        """None per query whose output is correct, else a one-line reason.
        The DuckDB oracles run concurrently, one cursor per thread."""
        todo = [n for n in names if n not in errors and n in self.rows]
        out: dict[str, str | None] = {n: "raised; no rows to check" for n in names if n not in todo}
        with ThreadPoolExecutor(max_workers=os.cpu_count() or 1) as pool:
            futures = {n: pool.submit(self._check_oracle, n) for n in todo if n in self.oracles}
            for n in todo:
                if n not in self.oracles:
                    out[n] = self._guard(getattr(self, f"_check_{n}"))
            for n, fut in futures.items():
                out[n] = self._guard(fut.result)
        return out

    @staticmethod
    def _guard(fn) -> str | None:
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - a check that raises fails its query
            return f"check raised {type(e).__name__}: {e}"

    def _digest(self, rows) -> tuple[int, str]:
        normed = sorted(tuple(self.norm(v) for v in r) for r in rows)
        return len(normed), hashlib.sha256(repr(normed).encode()).hexdigest()

    def _oracle(self, name: str) -> tuple[list[str], tuple[int, str]]:
        """Sorted column names and (rows, sha256) of the oracle's result."""
        sql = self.oracles[name]
        key = hashlib.sha256(sql.encode()).hexdigest()
        hit = self.cache.get(name)
        if hit and hit["sql_sha256"] == key:
            return hit["cols"], tuple(hit["digest"])
        cur = self.con.cursor()
        try:
            cur.execute(sql)
            ocols = [d[0] for d in cur.description]
            raw = cur.fetchall()
        finally:
            cur.close()
        cols = sorted(ocols)
        idx = [ocols.index(c) for c in cols]
        digest = self._digest(tuple(r[i] for i in idx) for r in raw)
        with self._lock:
            self.cache[name] = {"sql_sha256": key, "cols": cols, "digest": list(digest)}
        return cols, digest

    def _check_oracle(self, name: str) -> str | None:
        ocols, want = self._oracle(name)
        cols = self.cols[name]
        if ocols != cols:
            return f"columns spark={cols} oracle={ocols}"
        got = self._digest(tuple(r[c] for c in cols) for r in self.rows[name])
        if got != want:
            return f"rows/sha256 spark={got[0]}/{got[1][:12]} oracle={want[0]}/{want[1][:12]}"
        return None

    def _check_minhash_near_dups(self) -> str | None:
        exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in self.rows["ngram_jaccard_pairs"]}
        for r in self.rows["minhash_near_dups"]:
            key = (r["id_a"], r["id_b"])
            if key not in exact:
                return f"pair {key} not among the exact Jaccard >= 0.4 pairs"
            if exact[key] != r["jaccard"]:
                return f"pair {key} jaccard {r['jaccard']} != exact {exact[key]}"
        return None

    def _check_simhash_near_dups(self) -> str | None:
        """Recompute each reported pair's Hamming distance from signatures
        built in-process (``sketches.simhash_batches``) over the shingle
        hashes of the two documents."""
        import pyarrow as pa
        from pyspark.sql import functions as F

        from social_media_big_data_analyzer_spark.io import load_table
        from social_media_big_data_analyzer_spark.operators.sketches import (
            SHINGLE_K,
            hashed_word_shingles,
            simhash_batches,
        )

        pairs = self.rows["simhash_near_dups"]
        if not pairs:
            return "no pairs"
        ids = sorted({r["id_a"] for r in pairs} | {r["id_b"] for r in pairs})
        docs = load_table(self.spark, self.table_dir, "documents").filter(F.col("doc_id").isin(ids))
        tok = docs.select("doc_id", F.split(F.lower("text"), " ").alias("t")).filter(
            F.size("t") >= SHINGLE_K
        )
        hashed = tok.select("doc_id", hashed_word_shingles(F.col("t")).alias("hashes")).collect()
        batch = pa.RecordBatch.from_arrays(
            [
                pa.array([r.doc_id for r in hashed], type=pa.int64()),
                pa.array([list(r.hashes) for r in hashed], type=pa.list_(pa.int64())),
            ],
            ["doc_id", "hashes"],
        )
        sig = {}
        for out in simhash_batches(iter([batch])):
            sig.update(zip(out.column(0).to_pylist(), out.column(1).to_pylist()))
        for r in pairs:
            ham = bin((sig[r["id_a"]] ^ sig[r["id_b"]]) & (2**64 - 1)).count("1")
            if not 0 <= r["hamming"] <= HAMMING_MAX or ham != r["hamming"]:
                return f"pair ({r['id_a']},{r['id_b']}) hamming {r['hamming']} recomputed {ham}"
        return None

    def _check_ann_lsh_topk(self) -> str | None:
        cos = {(r["probe_id"], r["vec_id"]) for r in self.rows["cosine_topk"]}
        ann = self.rows["ann_lsh_topk"]
        recall = len({(r["probe_id"], r["vec_id"]) for r in ann} & cos) / max(len(cos), 1)
        if recall < ANN_RECALL_FLOOR:
            return f"recall {recall:.3f} below {ANN_RECALL_FLOOR}"
        for r in ann:
            if r["probe_id"] == r["vec_id"] and (r["rank"] != 1 or r["cos"] != 1.0):
                return f"probe {r['probe_id']} finds itself at rank {r['rank']} cos {r['cos']}"
        return None

    def _check_approx_distinct_users(self) -> str | None:
        approx = {r["event_type"]: r["approx_users"] for r in self.rows["approx_distinct_users"]}
        exact = dict(
            self.con.execute(
                "SELECT event_type, count(DISTINCT user_id) FROM events GROUP BY 1"
            ).fetchall()
        )
        if approx.keys() != exact.keys():
            return f"keys {sorted(approx)} != {sorted(exact)}"
        for k, est in approx.items():
            err = abs(est - exact[k]) / max(exact[k], 1)
            if err > APPROX_DISTINCT_TOL:
                return f"{k}: approx {est} vs exact {exact[k]}"
        return None

    def table_rows(self) -> dict[str, int]:
        """Row count of each generated table read back through the engine's
        loader, which raises on schema drift."""
        from social_media_big_data_analyzer_spark.sources.catalog import load_table

        return {t: load_table(self.spark, self.table_dir, t).count() for t in self.tables}

    def close(self) -> None:
        self.con.close()
        tmp = f"{self.cache_path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(self.cache, f)
        os.replace(tmp, self.cache_path)
