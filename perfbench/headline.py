"""The headline-query layers ``q.<query>``: the ``__spark_entry__``
queries that reach the modules the dedup workloads do not run.

They run in traced runs only, over ``documents`` and ``embeddings``
tables generated from the seed (``inputs.headline_tables``) and written
as parquet under the run directory. ``BY_WORKLOAD`` splits them between
the two workloads' traced runs, so each stays within its time limit. A
cold pass collects each query's rows and a warm pass writes each query
to the noop sink; every call runs inside a span. The collected rows are
then checked against the query's ``oracle_sql()`` twin in DuckDB, except
``simhash_bands``: its twin is a literal of the repo's testdata, so its
pairs are checked against a banding of ``simhash_signatures`` in Python.
"""

from __future__ import annotations

import math
import os
from unittest import mock

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entry
from rkmh_spark import oracle_literals

from perfbench import inputs

# query -> the module it measures; neither workload runs these modules
QUERIES = {
    "token_docfreq": "docfreq",
    "exact_dup_groups": "dedup_exact",
    "ngram_jaccard_pairs": "dedup_exact",
    "simhash_bands": "dedup_exact",
    "embedding_topk": "similarity",
    "variant_calls": "variants",
    "dup_spans": "span_dedup",
    "lm_score": "lm_score",
    "quality_filter": "functions.text",
}
# the text-dedup family rides on longdoc_crawl, the rest on incremental_crawl
BY_WORKLOAD = {
    "longdoc_crawl": ("token_docfreq", "exact_dup_groups",
                      "ngram_jaccard_pairs", "simhash_bands"),
    "incremental_crawl": ("embedding_topk", "variant_calls", "dup_spans",
                          "lm_score", "quality_filter"),
}
SIMHASH_BANDS, SIMHASH_BAND_BITS = 4, 16


def write_tables(seed: int, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, df in inputs.headline_tables(seed).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding",
                table.column("embedding").cast(pa.list_(pa.float32())),
            )
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


def run_pass(spark, tracer, sf_dir: str, names, pass_id: int,
             collect: bool) -> dict:
    """Each query once, in a span; query -> (columns, rows) if ``collect``."""
    qs, out = entry.queries(), {}
    for name in names:
        with tracer.span(f"q.{name}", pass_id):
            df = qs[name](spark, sf_dir)
            if collect:
                out[name] = (df.columns, [tuple(r) for r in df.collect()])
            else:
                df.write.format("noop").mode("overwrite").save()
    return out


def _normalize(rows, cols) -> list[tuple]:
    """Rows with columns in name order, floats to 6 places, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 6) + 0.0
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def _banded_pairs(sigs: list[tuple[int, int]]) -> set[tuple[int, int]]:
    buckets: dict[tuple[int, int], list[int]] = {}
    mask = (1 << SIMHASH_BAND_BITS) - 1
    for doc_id, sim in sigs:
        u = sim & 0xFFFFFFFFFFFFFFFF
        for band in range(SIMHASH_BANDS):
            key = (u >> (SIMHASH_BAND_BITS * band)) & mask
            buckets.setdefault((band, key), []).append(doc_id)
    return {
        (a, b) for members in buckets.values()
        for a in members for b in members if a < b
    }


def _relational_oracles() -> dict[str, str]:
    """``oracle_sql()`` with its literal twins stubbed out: those are
    built from the repo's testdata files, which a benchmark checkout does
    not have, and none of them is used here."""
    stubs = {
        n: (lambda *a, **k: "SELECT 1") for n in dir(oracle_literals)
        if n.endswith("_sql") and not n.startswith("_")
    }
    with mock.patch.multiple(oracle_literals, **stubs):
        return entry.oracle_sql()


def check(spark, sf_dir: str, outputs: dict) -> dict[str, bool]:
    """query -> its collected output (``run_pass``) matches its oracle."""
    sql = _relational_oracles()
    con = duckdb.connect()
    try:
        for t in inputs.HEADLINE_TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        ok = {}
        for name, (cols, rows) in outputs.items():
            if name == "simhash_bands":
                continue
            res = con.execute(sql[name])
            dcols = [d[0] for d in res.description]
            ok[name] = sorted(cols) == sorted(dcols) and _normalize(
                rows, cols
            ) == _normalize(res.fetchall(), dcols)
    finally:
        con.close()
    if "simhash_bands" in outputs:
        ok["simhash_bands"] = _simhash_bands_ok(spark, sf_dir, outputs)
    return ok


def _simhash_bands_ok(spark, sf_dir: str, outputs: dict) -> bool:
    sigs = [(r.doc_id, r.simhash) for r in
            entry.queries()["simhash_signatures"](spark, sf_dir).collect()]
    cols, rows = outputs["simhash_bands"]
    got = {(r[cols.index("doc_a")], r[cols.index("doc_b")]) for r in rows}
    return got == _banded_pairs(sigs)
