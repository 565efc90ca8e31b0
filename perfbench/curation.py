"""The curation queries: ``operators.dedup`` / ``similarity`` / ``textstats``
reached through ``contract.QUERIES``, each checked against its DuckDB oracle
from ``contract.all_oracles()``.

They run on the contract's own sf0.01 test tables (``documents``,
``embeddings``, ``events``; see TESTDATA.md), the tables
``scripts/check_contract.py`` gates on, copied byte for byte into
``perfbench/data/sf0.01`` so that the benchmark reads only inside its
checkout.
"""

from __future__ import annotations

import os

QUERY_NAMES = [
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash_pairs",
    "dedup_embedding_cosine", "dedup_ngram_jaccard", "txt_doc_profile",
    "sim_cosine_topk", "sim_lsh_topk", "sim_ivf_topk", "cdc_lww_snapshot",
]
TABLES = ["documents", "embeddings", "events"]
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def _collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


def run_queries(spark, tracer, ops, cc) -> dict:
    """Each query cold, then warm, then its result against the oracle.
    Returns {name: {cold_s, warm_s, rows, ok}}."""
    import duckdb

    from ais_etl_spark import contract

    oracles = contract.all_oracles()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
        out = {}
        for name in QUERY_NAMES:
            res = {}
            for leg in ("cold", "warm"):
                with tracer.span(f"query.{leg}", name) as s:
                    got = ops.call(lambda: _collect(contract.QUERIES[name](spark, DATA_DIR)))
                res[f"{leg}_s"] = s["dur_s"]
            cols, rows = got or (None, None)
            ok = False
            if rows is not None:
                ores = con.execute(oracles[name])
                ocols = [d[0] for d in ores.description]
                orows = ores.fetchall()
                ok = (sorted(cols) == sorted(ocols) and len(rows) == len(orows)
                      and cc.value_hash(cols, rows) == cc.value_hash(ocols, orows))
            res.update(rows=None if rows is None else len(rows), ok=ok)
            out[name] = res
        return out
    finally:
        con.close()
