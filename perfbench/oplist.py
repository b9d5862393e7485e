"""Seeded operation lists for the three workloads.

Pure Python: no Spark, no DuckDB. A workload's op list is one *cycle*:
every template appears a fixed number of times, with constants drawn
from a small per-template pool by the seed, in a seeded order. A run
repeats whole cycles, so every run has the same op composition and
only the constants and their order depend on the seed.

Each ``Op`` carries the text the engine runs and, for the SQL
workloads, the DuckDB statement that yields the expected rows over the
same parquet files.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

WORKLOADS = ("interactive", "export", "pipeline")

# Seconds one cycle takes on a quiet 4-vCPU host (median of measured
# runs). Only sizes a run: ``--seconds`` buys round(seconds / nominal)
# cycles, so a slower host measures longer, never fewer ops.
NOMINAL_CYCLE_S = {"interactive": 2.5, "export": 3.2, "pipeline": 9.0}

# Whole cycles run after the first run of each statement and before
# timing, as part of set-up: on `interactive` a cycle still gets about a
# quarter faster over its first four runs as the JIT compiles. The other
# workloads' cycles cost too much set-up time for the benchmark's time
# budget; their median spans enough timed ops to absorb the first
# cycle's excess.
WARM_CYCLES = {"interactive": 3, "export": 0, "pipeline": 0}


@dataclass(frozen=True)
class Op:
    key: str  # distinct-statement id: template name + constants
    template: str
    text: str  # SQL script (interactive, export) or registry id (pipeline)
    check: str = ""  # DuckDB SQL giving the expected rows ("" for pipeline)


# -- interactive ---------------------------------------------------------
#
# Small-result analytic SELECTs, run in JSON format. Money sums use the
# repo's decimal recipe (queries/_util.py: per-row double -> DECIMAL(18,6)
# -> exact SUM -> DOUBLE) so Spark and DuckDB agree bit for bit, and
# every ORDER BY is total so the output string is deterministic.

_DSUM = "CAST(SUM(CAST({e} AS DECIMAL(18,6))) AS DOUBLE)"


def _dsum(expr: str) -> str:
    return _DSUM.format(e=expr)


def _ts(day: str) -> str:
    return f"TIMESTAMP '{day} 00:00:00'"


def _q1(cutoff: str) -> str:
    disc = "l_extendedprice * (1 - l_discount)"
    return (
        "SELECT l_returnflag, l_linestatus, "
        f"{_dsum('l_quantity')} AS sum_qty, "
        f"{_dsum('l_extendedprice')} AS sum_base_price, "
        f"{_dsum(disc)} AS sum_disc_price, "
        f"{_dsum(disc + ' * (1 + l_tax)')} AS sum_charge, "
        f"{_dsum('l_quantity')} / COUNT(1) AS avg_qty, "
        f"{_dsum('l_extendedprice')} / COUNT(1) AS avg_price, "
        f"{_dsum('l_discount')} / COUNT(1) AS avg_disc, "
        "COUNT(*) AS count_order "
        f"FROM lineitem WHERE l_shipdate <= {_ts(cutoff)} "
        "GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus"
    )


def _q3(param: tuple[str, str]) -> str:
    segment, day = param
    return (
        "SELECT l_orderkey, "
        f"{_dsum('l_extendedprice * (1 - l_discount)')} AS revenue, "
        "CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority "
        "FROM customer, orders, lineitem "
        f"WHERE c_mktsegment = '{segment}' AND c_custkey = o_custkey "
        f"AND l_orderkey = o_orderkey AND o_orderdate < {_ts(day)} "
        f"AND l_shipdate > {_ts(day)} "
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
        "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"
    )


def _q5(param: tuple[str, int]) -> str:
    region, year = param
    return (
        "SELECT n_name, "
        f"{_dsum('l_extendedprice * (1 - l_discount)')} AS revenue "
        "FROM customer, orders, lineitem, supplier, nation, region "
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
        "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
        "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
        f"AND r_name = '{region}' "
        f"AND o_orderdate >= {_ts(f'{year}-01-01')} "
        f"AND o_orderdate < {_ts(f'{year + 1}-01-01')} "
        "GROUP BY n_name ORDER BY revenue DESC, n_name"
    )


def _q6(param: tuple[int, str, int]) -> str:
    year, discount, quantity = param
    lo = f"{float(discount) - 0.01:.2f}"
    hi = f"{float(discount) + 0.01:.2f}"
    return (
        f"SELECT {_dsum('l_extendedprice * l_discount')} AS revenue, "
        "COUNT(*) AS n_lines FROM lineitem "
        f"WHERE l_shipdate >= {_ts(f'{year}-01-01')} "
        f"AND l_shipdate < {_ts(f'{year + 1}-01-01')} "
        f"AND l_discount BETWEEN {lo} AND {hi} AND l_quantity < {quantity}"
    )


def _window(param: tuple[str, int]) -> str:
    segment, k = param
    return (
        "SELECT c_nationkey, c_custkey, c_acctbal, rnk FROM ("
        "SELECT c_nationkey, c_custkey, c_acctbal, "
        "CAST(row_number() OVER (PARTITION BY c_nationkey "
        "ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rnk "
        f"FROM customer WHERE c_mktsegment = '{segment}') t "
        f"WHERE rnk <= {k} ORDER BY c_nationkey, rnk"
    )


def _rollup(year: int) -> str:
    return (
        "SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders, "
        f"{_dsum('o_totalprice')} AS total_price FROM orders "
        f"WHERE o_orderdate >= {_ts(f'{year}-01-01')} "
        f"AND o_orderdate < {_ts(f'{year + 1}-01-01')} "
        "GROUP BY ROLLUP (o_orderpriority, o_orderstatus) "
        "ORDER BY o_orderpriority NULLS LAST, o_orderstatus NULLS LAST"
    )


def _distinct_on(param: tuple[str, int]) -> str:
    # DataFusion/Postgres dialect: Spark has no DISTINCT ON, so the
    # engine's compat.rewrite must translate it; DuckDB runs it natively
    segment, floor = param
    return (
        "SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey, c_acctbal "
        f"FROM customer WHERE c_mktsegment = '{segment}' AND c_acctbal > {floor} "
        "ORDER BY c_nationkey, c_acctbal DESC, c_custkey"
    )


_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

# template name -> (builder, pool of constants). As in TPC-H's
# substitution parameters, the constants of one template select similar
# amounts of data, so a template costs about the same under every seed.
# The fixtures' dates run from 1995-01-01 to 2001-11-04.
INTERACTIVE_TEMPLATES = {
    "q1": (_q1, ("2000-08-15", "2000-08-25", "2000-09-02", "2000-09-10",
                 "2000-09-20", "2000-10-01", "2000-10-10")),
    "q3": (_q3, tuple((s, d) for s in _SEGMENTS
                      for d in ("1998-03-05", "1998-03-15", "1998-03-25"))),
    "q5": (_q5, tuple((r, y) for r in _REGIONS for y in (1997, 1998, 1999))),
    "q6": (_q6, tuple((y, d, q) for y in (1996, 1997, 1998, 1999)
                      for d in ("0.05", "0.06") for q in (24, 25))),
    "window": (_window, tuple((s, k) for s in _SEGMENTS for k in (3, 4))),
    "rollup": (_rollup, (1996, 1997, 1998, 1999, 2000)),
    "distinct_on": (_distinct_on, tuple((s, f) for s in _SEGMENTS
                                         for f in (0, 1000, 2000))),
}

# distinct constants per template in one cycle
INTERACTIVE_DRAWS = 1


def interactive_ops(seed: int) -> list[Op]:
    rng = random.Random(f"interactive:{seed}")
    ops = []
    for name, (build, pool) in INTERACTIVE_TEMPLATES.items():
        for param in rng.sample(pool, INTERACTIVE_DRAWS):
            sql = build(param)
            ops.append(Op(f"{name}{param!r}", name, sql, sql))
    rng.shuffle(ops)
    return ops


# -- export --------------------------------------------------------------
#
# One op is one three-statement script in TABLE format: COPY a wide
# lineitem slice to parquet, bind the copy as an external table, and
# read it back through the pretty-table sink. The slice is every row
# whose order key falls in one seeded residue class.

EXPORT_MODULUS = 60  # ~10k of the 600k sf0.1 lineitem rows per slice
EXPORT_SLICES = 2  # distinct slices per cycle
LINEITEM_COLUMNS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate",
)


def export_ops(seed: int, out_dir: str) -> list[Op]:
    rng = random.Random(f"export:{seed}")
    # (l_orderkey, l_linenumber) is not unique in the fixtures: order by
    # every column so the rendered table is deterministic
    order = ", ".join(LINEITEM_COLUMNS)
    ops = []
    for r in sorted(rng.sample(range(EXPORT_MODULUS), EXPORT_SLICES)):
        name = f"slice_{r}"
        where = f"l_orderkey % {EXPORT_MODULUS} = {r}"
        path = f"{out_dir}/{name}"
        script = (
            f"COPY (SELECT * FROM lineitem WHERE {where}) TO '{path}' "
            "STORED AS PARQUET; "
            f"CREATE EXTERNAL TABLE {name} STORED AS PARQUET LOCATION '{path}'; "
            f"SELECT * FROM {name} ORDER BY {order}"
        )
        check = f"SELECT * FROM lineitem WHERE {where} ORDER BY {order}"
        ops.append(Op(f"export[{r}]", "export", script, check))
    rng.shuffle(ops)
    return ops


# -- pipeline ------------------------------------------------------------
#
# One registry query per LLM-pipeline operator family (similarity search
# incl. the IVF Lloyd fold, dedup, text quality, training mix, itemset
# mining, graph BFS, event windows); each op is
# ``load_all()[name].spark_fn(spark, sf_dir).collect()``.

PIPELINE_QUERIES = (
    "q_sim_topk",
    "q_sim_ivf_topk",
    "q_dedup_minhash",
    "q_text_quality",
    "q_pipeline_training_mix",
    "q_pipeline_itemsets",
    "q_graph_bfs",
    "q_events_tumbling",
)


# Run twice in every cycle, so a cycle holds an odd number of ops. The
# queries' times fall in two groups: q_text_quality, q_events_tumbling,
# q_sim_topk and q_pipeline_training_mix take about 0.2-0.6 s, the rest
# 1-2.5 s. With eight ops the median would interpolate across that gap
# and move with both groups. With nine, and a slow query twice, it lands
# on the samples of the cheapest slow query, q_dedup_minhash, which
# runs once per cycle, so every one of its samples is taken alike.
PIPELINE_REPEAT = "q_graph_bfs"


def pipeline_ops(seed: int) -> list[Op]:
    names = [*PIPELINE_QUERIES, PIPELINE_REPEAT]
    random.Random(f"pipeline:{seed}").shuffle(names)
    return [Op(n, n, n) for n in names]


def build(workload: str, seed: int, out_dir: str) -> list[Op]:
    """One cycle of ``workload``'s op list for ``seed``."""
    if workload == "interactive":
        return interactive_ops(seed)
    if workload == "export":
        return export_ops(seed, out_dir)
    if workload == "pipeline":
        return pipeline_ops(seed)
    raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
