"""Single-node crossover benchmark: Spark vs DuckDB on the 11 headline
queries at 10x sf0.1 (~sf1, 6M-row lineitem, 1M-row events).

Generates join-consistent 10x fixtures in tmp with 100k-row parquet row
groups — unlike the single-row-group driver fixtures, these SPLIT, so
Spark's scans actually parallelize (lineitem = 60 input tasks) and the
measurement separates engine throughput from the fixture-shape floor
documented in BASELINE.md. Both engines run the same logical query
(the registry plan vs its DuckDB oracle SQL), 2 warm-up passes, then
median-of-3 per query; each query's row also carries the ``layers``
record of one extra, untimed Spark run (etl_intraday_bidask_spark.metrics).

Usage: python tools/crossover_bench.py   (results: one JSON line)
Findings recorded in BASELINE.md "Single-node crossover at 10x".
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_BASE = "/root/testdata/sf0.1"
# 10x (~sf1) by default; SPARK_GRAFT_CROSSOVER_REP=100 reproduces the
# ~sf10 crossover measurement recorded in BASELINE.md.
N_REP = int(os.environ.get("SPARK_GRAFT_CROSSOVER_REP", "10"))
def generate(big: str) -> None:
    """10x replication with consistent key offsets (joins stay valid
    per replica) and splittable 100k-row row groups."""
    con = duckdb.connect()
    rep = f"(SELECT unnest(range({N_REP})) AS k) r"
    specs = {
        "orders": f"""SELECT o_orderkey + r.k*1000000 AS o_orderkey,
            o_custkey + r.k*100000 AS o_custkey, o_orderstatus,
            o_totalprice, o_orderdate, o_orderpriority
            FROM read_parquet('{SF_BASE}/orders.parquet'), {rep}""",
        "lineitem": f"""SELECT l_orderkey + r.k*1000000 AS l_orderkey,
            l_partkey + r.k*100000 AS l_partkey,
            l_suppkey + r.k*10000 AS l_suppkey, l_linenumber, l_quantity,
            l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
            l_shipdate
            FROM read_parquet('{SF_BASE}/lineitem.parquet'), {rep}""",
        "customer": f"""SELECT c_custkey + r.k*100000 AS c_custkey, c_name,
            c_nationkey, c_acctbal, c_mktsegment
            FROM read_parquet('{SF_BASE}/customer.parquet'), {rep}""",
        "part": f"""SELECT p_partkey + r.k*100000 AS p_partkey, p_name,
            p_brand, p_type, p_size, p_retailprice
            FROM read_parquet('{SF_BASE}/part.parquet'), {rep}""",
        "supplier": f"""SELECT s_suppkey + r.k*10000 AS s_suppkey, s_name,
            s_nationkey, s_acctbal
            FROM read_parquet('{SF_BASE}/supplier.parquet'), {rep}""",
        "events": f"""SELECT event_id + r.k*100000000 AS event_id,
            ts + to_microseconds((r.k*37)::BIGINT) AS ts,
            user_id + r.k*100000 AS user_id, event_type, value, props
            FROM read_parquet('{SF_BASE}/events.parquet'), {rep}""",
        "documents": f"""SELECT doc_id + r.k*1000000 AS doc_id, text, lang,
            source, n_chars
            FROM read_parquet('{SF_BASE}/documents.parquet'), {rep}""",
        "embeddings": f"""SELECT vec_id + r.k*1000000 AS vec_id, embedding,
            label FROM read_parquet('{SF_BASE}/embeddings.parquet'), {rep}""",
    }
    for t, q in specs.items():
        con.execute(
            f"COPY ({q}) TO '{big}/{t}.parquet' "
            "(FORMAT parquet, ROW_GROUP_SIZE 100000)"
        )
    con.close()
    for t in ("region", "nation"):
        os.symlink(f"{SF_BASE}/{t}.parquet", f"{big}/{t}.parquet")


def main() -> None:
    from bench import HEADLINE
    from etl_intraday_bidask_spark.metrics import measure
    from etl_intraday_bidask_spark.registry import load_all_operators
    from etl_intraday_bidask_spark.session import build_spark
    from etl_intraday_bidask_spark.tables import TABLE_NAMES
    from tools import host_probe as hp

    # Round-13 (VERDICT r12 item 5): embed the pre-flight host probe in
    # the artifact so every crossover reading self-labels its window the
    # way bench.py runs do.
    probe = hp.preflight()

    big = tempfile.mkdtemp(prefix="sf1_crossover_")
    generate(big)
    reg = load_all_operators()

    spark = build_spark(app_name="crossover", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "true")  # cluster config
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024)
    )
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{big}/{t}.parquet')"
        )

    for _ in range(2):  # warm both engines: JIT, page cache, codegen
        for n in HEADLINE:
            reg[n].spark_fn(spark, big).toPandas()
            con.sql(reg[n].oracle_sql).fetchall()

    # Warmed dispatch floor and verdict: the same leg and rule as bench.py.
    probe["warmed_floor_ms"] = hp.warmed_floor_ms(spark)
    probe["verdict"] = hp.verdict(probe)
    print(f"# host_probe: {json.dumps(probe)}", file=sys.stderr, flush=True)

    out = {}
    for n in HEADLINE:
        st, dt = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            reg[n].spark_fn(spark, big).toPandas()
            st.append(time.perf_counter() - t0)
        for _ in range(3):
            t0 = time.perf_counter()
            con.sql(reg[n].oracle_sql).fetchall()
            dt.append(time.perf_counter() - t0)
        out[n] = {
            "spark_ms": round(statistics.median(st) * 1000, 1),
            "duckdb_ms": round(statistics.median(dt) * 1000, 1),
            # one more, untimed run: stages, GC and spill of this plan
            "layers": measure(spark, lambda: reg[n].spark_fn(spark, big)),
        }
        print(n, out[n], file=sys.stderr, flush=True)
    sw = sum(v["spark_ms"] for v in out.values())
    dw = sum(v["duckdb_ms"] for v in out.values())
    print(
        json.dumps(
            {
                "metric": "crossover_10x",
                "n_rep": N_REP,
                "suite_spark_ms": round(sw, 1),
                "suite_duckdb_ms": round(dw, 1),
                "ratio": round(sw / dw, 2),
                "host_probe": probe,
                "queries": out,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
