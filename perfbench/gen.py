"""Seeded input generator for the benchmark workloads.

Every table is built from the workload's seed alone: the same seed and
sizes give byte-identical parquet files. Columns and types come from the
engine's declared schemas (``schemas.SCHEMAS``), so a schema change in the
engine changes what is generated, and the read-back through
``sources.catalog.load_table`` (see ``client.py``) fails loudly on drift.

Output goes to ``<checkout>/.perfbench/inputs/<key>/`` and is reused when
a ``manifest.json`` for the identical seed, sizes and generator version is
already there. The manifest records the seed, row counts, bytes and
row-group layout of each file; the benchmark prints it next to the metrics.

Run alone to pre-build inputs:

    python3 perfbench/gen.py --workload llm_docs --seed 1
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

GEN_VERSION = 1

#: Rows per table per workload. ``lineitem`` is the small table that
#: bench.py's warm-up query (``revenue_by_flag``) reads during set-up.
SIZES: dict[str, dict[str, int]] = {
    "llm_docs": {"documents": 1000, "embeddings": 2000, "lineitem": 6000},
    "events_stream": {"events": 400_000, "lineitem": 6000},
}

#: Row groups per file. Spark splits a file by bytes and assigns whole row
#: groups to splits, so scan parallelism is at most this count.
ROW_GROUPS = 16

#: Documents in the in-process kernel probe corpus (trace runs only).
KERNEL_DOCS = 4000

# Document shape: share of docs that are edited copies of another doc,
# share that are exact reposts, share that carry a shared boilerplate
# span, and that span's length.
NEAR_DUP_SHARE = 0.10
EXACT_DUP_SHARE = 0.03
BOILERPLATE_SHARE = 0.05
BOILERPLATE_SPANS = 3
BOILERPLATE_TOKENS = 12
LANGS = ("en", "es", "fr", "de", "zh")
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
EMB_DIM = 64
EMB_CLUSTERS = 10

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENT_TYPE_P = (0.55, 0.25, 0.08, 0.07, 0.05)
USER_UNIVERSE = 100_000
EVENT_DAYS = 30
OUT_OF_ORDER_SHARE = 0.10


def _arrow_schema(table: str) -> pa.Schema:
    """Arrow schema of ``table`` derived from the engine's StructType."""
    from pyspark.sql import types as T

    from social_media_big_data_analyzer_spark import schemas

    def conv(dt):
        if isinstance(dt, T.LongType):
            return pa.int64()
        if isinstance(dt, T.IntegerType):
            return pa.int32()
        if isinstance(dt, T.DoubleType):
            return pa.float64()
        if isinstance(dt, T.FloatType):
            return pa.float32()
        if isinstance(dt, T.StringType):
            return pa.string()
        if isinstance(dt, (T.TimestampNTZType, T.TimestampType)):
            return pa.timestamp("us")
        if isinstance(dt, T.ArrayType):
            return pa.list_(conv(dt.elementType))
        raise TypeError(f"no arrow mapping for {dt!r} in table {table}")

    return pa.schema([(f.name, conv(f.dataType)) for f in schemas.SCHEMAS[table].fields])


def _zipf_p(n: int, s: float, q: float = 0.0) -> np.ndarray:
    """Zipf(-Mandelbrot) probabilities of ranks 1..n: p ~ (rank + q)^-s."""
    p = 1.0 / (np.arange(1, n + 1, dtype=np.float64) + q) ** s
    return p / p.sum()


def _vocabulary(rng: np.random.Generator) -> tuple[list[str], np.ndarray]:
    """Zipf-ranked vocabulary: the engine's stopwords, language-marker
    words and query vocabulary lead, followed by inflected forms the
    lemmatizer rewrites and a long tail of synthetic words."""
    from social_media_big_data_analyzer_spark.functions.cleaning import STOPWORDS
    from social_media_big_data_analyzer_spark.functions.lemmatize import IRREGULAR_NOUNS
    from social_media_big_data_analyzer_spark.queries import ingest, text

    markers = list(text._EN + text._ES + text._FR)
    engine_words = (
        {kw for _, kws, _ in ingest.SECTORS for kw in kws}
        | {sym.lower() for _, _, sym in ingest.SECTORS if sym}
        | set(
            "batch part spark line column order small sort fast value scan hash "
            "slow group agg filter query big key window row table stream merge "
            "data join vector customer".split()
        )
    )
    stems = [
        "quer", "class", "join", "hash", "tabl", "stream", "filter", "batch",
        "shuffl", "partit", "cach", "index", "record", "sketch", "token",
    ]
    head = sorted(set(STOPWORDS) | set(markers) | engine_words)
    inflected = sorted(
        {s + suf for s in stems for suf in ("ies", "sses", "ing", "ed", "s")}
        | set(IRREGULAR_NOUNS)
    )
    syll = ["ka", "lo", "mi", "ra", "te", "su", "no", "vi", "de", "pa", "ro", "zu", "fe", "gi"]
    tail = sorted(
        {
            "".join(rng.choice(syll, size=int(k)))
            for k in rng.integers(2, 5, size=6000)
        }
        - set(head)
    )
    body = inflected + tail
    body = [body[i] for i in rng.permutation(len(body))]
    head = [head[i] for i in rng.permutation(len(head))]
    vocab = head + body
    return vocab, _zipf_p(len(vocab), 1.07, 2.7)


def documents_table(seed: int, n: int) -> pa.Table:
    """``documents``: Zipf text with long-tailed lengths, ~10 % edited
    near-duplicates, ~3 % exact reposts and ~5 % docs sharing a
    boilerplate span."""
    rng = np.random.default_rng([seed, 1])
    vocab, p = _vocabulary(rng)
    vocab_arr = np.array(vocab, dtype=object)
    markers = {
        "en": np.array(_lang_markers("en"), dtype=object),
        "es": np.array(_lang_markers("es"), dtype=object),
        "fr": np.array(_lang_markers("fr"), dtype=object),
    }
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    lengths = np.clip(rng.lognormal(np.log(40), 0.6, size=n), 6, 400).astype(np.int64)
    draws = rng.choice(len(vocab), size=int(lengths.sum()), p=p)
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    spans = [
        list(vocab_arr[rng.choice(len(vocab), size=BOILERPLATE_TOKENS, p=p)])
        for _ in range(BOILERPLATE_SPANS)
    ]
    kind = rng.random(n)
    kind[0] = 1.0
    is_dup = kind < NEAR_DUP_SHARE
    is_repost = (kind >= NEAR_DUP_SHARE) & (kind < NEAR_DUP_SHARE + EXACT_DUP_SHARE)
    has_bp = rng.random(n) < BOILERPLATE_SHARE

    texts: list[list[str]] = []
    for i in range(n):
        if is_dup[i]:
            toks = list(texts[int(rng.integers(0, i))])
            for _ in range(int(rng.integers(1, 4))):
                pos = int(rng.integers(0, len(toks)))
                if rng.random() < 0.5 and len(toks) > 6:
                    del toks[pos]
                else:
                    toks[pos] = vocab_arr[rng.choice(len(vocab), p=p)]
        elif is_repost[i]:
            toks = list(texts[int(rng.integers(0, i))])
        else:
            toks = list(vocab_arr[draws[offsets[i] : offsets[i + 1]]])
            m = markers.get(langs[i])
            if m is not None:
                hit = rng.random(len(toks)) < 0.08
                toks = [m[rng.integers(len(m))] if h else t for t, h in zip(toks, hit)]
        if has_bp[i]:
            toks = spans[int(rng.integers(0, BOILERPLATE_SPANS))] + toks
        texts.append(toks)

    joined = [" ".join(t) for t in texts]
    sources = rng.choice(20, size=n, p=_zipf_p(20, 1.0))
    return pa.Table.from_arrays(
        [
            pa.array(np.arange(n, dtype=np.int64)),
            pa.array(joined, type=pa.string()),
            pa.array(langs.tolist(), type=pa.string()),
            pa.array([f"src{s}" for s in sources], type=pa.string()),
            pa.array(np.array([len(t) for t in joined], dtype=np.int64)),
        ],
        schema=_arrow_schema("documents"),
    )


def _lang_markers(lang: str) -> tuple[str, ...]:
    from social_media_big_data_analyzer_spark.queries import text

    return {"en": text._EN, "es": text._ES, "fr": text._FR}[lang]


def embeddings_table(seed: int, n: int) -> pa.Table:
    """``embeddings``: 64-d float vectors around 10 skewed cluster centres."""
    rng = np.random.default_rng([seed, 2])
    centres = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.choice(EMB_CLUSTERS, size=n, p=_zipf_p(EMB_CLUSTERS, 0.8))
    vecs = (centres[labels] + rng.normal(scale=0.12, size=(n, EMB_DIM))).astype(np.float32)
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    emb = pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel(), type=pa.float32()))
    return pa.Table.from_arrays(
        [pa.array(np.arange(n, dtype=np.int64)), emb, pa.array(labels.astype(np.int32))],
        schema=_arrow_schema("embeddings"),
    )


def events_table(seed: int, n: int) -> pa.Table:
    """``events``: Zipf-skewed users, skewed event types, time-ordered
    rows with ~10 % arriving out of order by less than one day."""
    rng = np.random.default_rng([seed, 3])
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = EVENT_DAYS * 86_400_000_000
    ts = t0 + np.sort(rng.integers(0, span, size=n))
    late = rng.random(n) < OUT_OF_ORDER_SHARE
    ts[late] -= rng.integers(0, 86_400_000_000 - 1, size=int(late.sum()))
    ranks = rng.choice(USER_UNIVERSE, size=n, p=_zipf_p(USER_UNIVERSE, 1.05))
    user_ids = rng.permutation(USER_UNIVERSE).astype(np.int64)[ranks] + 1
    etype = rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_P)
    return pa.Table.from_arrays(
        [
            pa.array(np.arange(n, dtype=np.int64)),
            pa.array(ts, type=pa.timestamp("us")),
            pa.array(user_ids),
            pa.array(np.array(EVENT_TYPES, dtype=object)[etype].tolist(), type=pa.string()),
            pa.array(np.round(rng.gamma(2.0, 30.0, size=n), 2)),
            pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)], type=pa.string()),
        ],
        schema=_arrow_schema("events"),
    )


def lineitem_table(seed: int, n: int) -> pa.Table:
    """``lineitem``: the small fact table the set-up warm query reads."""
    rng = np.random.default_rng([seed, 4])
    t0 = np.datetime64("1992-01-01T00:00:00", "us").astype(np.int64)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    return pa.Table.from_arrays(
        [
            pa.array(rng.integers(1, n // 4 + 2, size=n).astype(np.int64)),
            pa.array(rng.integers(1, 2000, size=n).astype(np.int64)),
            pa.array(rng.integers(1, 100, size=n).astype(np.int64)),
            pa.array(rng.integers(1, 8, size=n).astype(np.int32)),
            pa.array(qty),
            pa.array(np.round(qty * rng.uniform(900, 2000, size=n), 2)),
            pa.array(rng.integers(0, 11, size=n) / 100.0),
            pa.array(rng.integers(0, 9, size=n) / 100.0),
            pa.array(rng.choice(["A", "N", "R"], size=n).tolist(), type=pa.string()),
            pa.array(rng.choice(["O", "F"], size=n).tolist(), type=pa.string()),
            pa.array(t0 + rng.integers(0, 7 * 365, size=n) * 86_400_000_000, type=pa.timestamp("us")),
        ],
        schema=_arrow_schema("lineitem"),
    )


_BUILDERS = {
    "documents": documents_table,
    "embeddings": embeddings_table,
    "events": events_table,
    "lineitem": lineitem_table,
}


def _key(workload: str, seed: int) -> str:
    spec = json.dumps([GEN_VERSION, ROW_GROUPS, SIZES[workload]], sort_keys=True)
    return f"{workload}-seed{seed}-{hashlib.sha256(spec.encode()).hexdigest()[:10]}"


def ensure_inputs(workload: str, seed: int) -> tuple[str, dict]:
    """Return ``(table_dir, manifest)``, generating the tables unless a
    complete set for this seed and these sizes already exists."""
    out = os.path.join(WORK, "inputs", _key(workload, seed))
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return out, json.load(f)

    t0 = time.perf_counter()
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = {}
    for name, rows in SIZES[workload].items():
        tbl = _BUILDERS[name](seed, rows)
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(tbl, path, row_group_size=-(-rows // ROW_GROUPS))
        md = pq.ParquetFile(path).metadata
        tables[name] = {
            "rows": md.num_rows,
            "bytes": os.path.getsize(path),
            "row_groups": md.num_row_groups,
            "rows_per_group": [md.row_group(i).num_rows for i in range(md.num_row_groups)],
        }
    manifest = {
        "workload": workload,
        "seed": seed,
        "generator_version": GEN_VERSION,
        "files": "one parquet file per table, snappy, written by pyarrow",
        "tables": tables,
        "gen_s": time.perf_counter() - t0,
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, manifest


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    out, manifest = ensure_inputs(args.workload, args.seed)
    print(out)
    print(json.dumps(manifest["tables"]))
    return 0


if __name__ == "__main__":
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    sys.exit(main())
