#!/usr/bin/env python3
"""Compare the benchmark's generated fixtures with a reference fixture set.

    python3 perfbench/calibrate.py REFERENCE_SF_DIR [--seed 42]

Generates the seed's sf0.1 fixtures into a temporary directory under the
checkout, profiles both sets with DuckDB and prints one markdown table:
row counts, distinct keys, date ranges, value means, the shape of the
text corpus (words per document, vocabulary, duplicate rates) and the
row counts of the oracle outputs the workloads check. The reference set
is only read. perfbench/README.md records the result of one such run.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (label, SQL returning one value); every table is a view of the same name
PROFILE = [
    *[(f"rows {t}", f"SELECT count(*) FROM {t}") for t in (
        "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings")],
    ("customers per nation, min", "SELECT min(c) FROM (SELECT count(*) c FROM customer GROUP BY c_nationkey)"),
    ("customers per nation, max", "SELECT max(c) FROM (SELECT count(*) c FROM customer GROUP BY c_nationkey)"),
    ("distinct o_custkey", "SELECT count(DISTINCT o_custkey) FROM orders"),
    ("distinct l_orderkey", "SELECT count(DISTINCT l_orderkey) FROM lineitem"),
    ("lines per order, max", "SELECT max(c) FROM (SELECT count(*) c FROM lineitem GROUP BY l_orderkey)"),
    ("o_orderdate min", "SELECT min(o_orderdate)::DATE FROM orders"),
    ("o_orderdate max", "SELECT max(o_orderdate)::DATE FROM orders"),
    ("l_shipdate min", "SELECT min(l_shipdate)::DATE FROM lineitem"),
    ("l_shipdate max", "SELECT max(l_shipdate)::DATE FROM lineitem"),
    ("corr(l_shipdate, o_orderdate)",
     "SELECT round(corr(epoch(l_shipdate), epoch(o_orderdate)), 3) "
     "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"),
    ("mean l_extendedprice", "SELECT round(avg(l_extendedprice)) FROM lineitem"),
    ("mean l_discount", "SELECT round(avg(l_discount), 3) FROM lineitem"),
    ("mean o_totalprice", "SELECT round(avg(o_totalprice)) FROM orders"),
    ("distinct p_name / p_brand / p_type",
     "SELECT count(DISTINCT p_name) || ' / ' || count(DISTINCT p_brand) || ' / ' "
     "|| count(DISTINCT p_type) FROM part"),
    ("events ts min", "SELECT min(ts)::DATE FROM events"),
    ("events ts max", "SELECT max(ts)::DATE FROM events"),
    ("distinct events user_id", "SELECT count(DISTINCT user_id) FROM events"),
    ("mean events value", "SELECT round(avg(value), 1) FROM events"),
    ("words per document, mean", "SELECT round(avg(len(string_split(text, ' '))), 1) FROM documents"),
    ("words per document, min-max",
     "SELECT min(len(string_split(text, ' '))) || '-' || max(len(string_split(text, ' '))) FROM documents"),
    ("vocabulary", "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)"),
    ("near duplicates (' dup' suffix)", "SELECT count(*) FROM documents WHERE text LIKE '% dup'"),
    ("exact duplicate texts", "SELECT count(*) - count(DISTINCT text) FROM documents"),
    ("share of lang 'en'", "SELECT round(avg(CASE WHEN lang = 'en' THEN 1 ELSE 0 END), 3) FROM documents"),
    ("documents per source, min-max",
     "SELECT min(c) || '-' || max(c) FROM (SELECT count(*) c FROM documents GROUP BY source)"),
    ("embedding dim", "SELECT max(len(embedding)) FROM embeddings"),
    ("distinct embedding label", "SELECT count(DISTINCT label) FROM embeddings"),
]
# oracle outputs the workloads check (plus the search queries' results)
ORACLE_ROWS = (
    "receita_farmer_m_passado", "receita_farmer_m_presente", "receita_cliente",
    "receita_produto_f_m_passado", "fechamento_m_presente", "fechamento_m_passado",
    "streaming_monthly_rollup", "streaming_cdc_apply", "curation_pipeline", "chunk_dedup",
    "minhash_lsh_pairs", "bm25_topk", "responsibility_periods",
)


def profile(sf_dir: str) -> list[str]:
    from etl_gamma_spark import registry
    from etl_gamma_spark.io import ALL_TABLES

    con = duckdb.connect()
    for name in ALL_TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')")
    out = [str(con.execute(sql).fetchone()[0]) for _, sql in PROFILE]
    for name in ORACLE_ROWS:
        out.append(str(con.execute(f"SELECT count(*) FROM ({registry.ORACLES[name]})").fetchone()[0]))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("reference", help="directory of the reference fixture parquet files")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    import datagen

    work = tempfile.mkdtemp(prefix=".perfbench-run-", dir=ROOT)
    try:
        datagen.generate(work, args.seed)
        gen = profile(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ref = profile(os.path.abspath(args.reference))
    labels = [label for label, _ in PROFILE] + [f"oracle rows {n}" for n in ORACLE_ROWS]
    print(f"| measure | reference | generated (seed {args.seed}) |")
    print("|---|---|---|")
    for label, r, g in zip(labels, ref, gen):
        print(f"| {label} | {r} | {g}{'' if r == g else ' *'} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
