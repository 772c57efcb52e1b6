"""PySpark-native analytics engine with the query & data-processing
capabilities of EchoCodeWarrior/Social-Media-Big-data-Analyzer.

Reference: a Streamlit app (/root/reference/app.py) that ingests tweets,
cleans text (regex + stopwords + lemmatization), and computes corpus-mean
TF-IDF + top-k word frequency. This package re-expresses that surface --
and its mandated closure (relational ops, streaming windows, dedup,
similarity search, multimodal columns, text analysis) -- as idiomatic
Spark DataFrame / SQL / Structured Streaming, designed for 100 TB scale.

Layout:
    session     -- the local session builder and the runtime confs (UTC, AQE, Arrow)
    schemas     -- explicit StructType schemas for the test tables
    io          -- ``load_table``, the loader every query imports
    sources/    -- the declared-schema table loader and its footer check
    functions/  -- column-level building blocks (text cleaning, lemmatizer)
    operators/  -- composite operators (as-of join, multimodal, sketches)
    queries/    -- every query with its DuckDB oracle SQL, one module per
                   area (core, relational, text, tfidf, dedup, similarity,
                   ...); ``queries.REGISTRY`` is the registry
    streaming/  -- Structured Streaming queries (windows, dedup, ingest)
"""

__version__ = "0.1.0"

#: Registered cache-clearing hooks. Any module that memoizes/persists
#: DataFrames for intra-session reuse registers a zero-arg callable here
#: (see queries/dedup.py). bench.py calls :func:`clear_caches` before
#: EVERY timed repetition so no repetition inherits another's warm
#: state — a module that adds a new memo and registers it is covered
#: automatically instead of silently under-reporting its cost.
_CACHE_CLEARERS: list = []


def register_cache_clearer(fn) -> None:
    _CACHE_CLEARERS.append(fn)


def clear_caches() -> None:
    """Drop + unpersist every registered intra-session DataFrame memo."""
    for fn in _CACHE_CLEARERS:
        fn()
