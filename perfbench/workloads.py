"""Workload definitions and seeded plan generation.

A plan is what the JVM harness runs: the operations of one workload and the
order of every timed pass. The workload seed picks statement literals and
operation order; the operation mix of a pass is the same for every seed, so
runs with different seeds measure the same work.
"""
import random

WORKLOADS = ("sql_interactive", "pipeline_warm")

# Fixture tables, registered by every set-up.
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# ------------------------------------------------------------ pipelines
PIPELINE_WARM = [
    "q01_agg_pushdown",            # short relational row
    "x96_duplicated_spans",        # shuffle- and kernel-heavy row
    "x14_dedup_pipeline",          # eager-heavy: CC loop over a warm artifact
    "x136_stream_session_window",  # eager-heavy: stream replay
    "x15_ann_ivf",                 # warm-artifact row: IVF index read
]
# Rows backed by artifacts under the artifact root: a traced run's check
# pass builds theirs from an empty root.
ARTIFACT_ROWS = ("x14_dedup_pipeline", "x15_ann_ivf")

# ------------------------------------------------------ sql_interactive
# Each template renders, from a seeded rng, the DataFusion-dialect script
# sent to SqlEngine.executeSql and, per statement, the DuckDB query whose
# result the statement must return (None: a statement with no result rows).
# `${OUT}` marks the directory a write script writes to; the harness gives
# every execution a fresh one and reads it back afterwards.

def t_filter_agg(r):
    q, day = r.choice([10, 20, 30, 40]), r.choice(["1996-01-01", "1998-06-01", "2000-01-01"])
    body = (f"SELECT l_returnflag, l_linestatus, count(*) AS n, "
            f"CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, "
            f"max(l_discount) AS max_disc FROM lineitem "
            f"WHERE l_quantity <= {q} AND l_shipdate >= DATE '{day}' "
            f"GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")
    return body, [body]


def t_join_topk(r):
    seg = r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    k = r.choice([5, 10, 20])
    body = (f"SELECT c.c_name, n.n_name, count(*) AS orders, "
            f"CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
            f"FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            f"JOIN nation n ON c.c_nationkey = n.n_nationkey "
            f"WHERE c.c_mktsegment = '{seg}' GROUP BY c.c_name, n.n_name "
            f"ORDER BY total DESC, c.c_name LIMIT {k}")
    return body, [body]


def t_window_rank(r):
    lo = r.randrange(0, 1400)
    body = (f"SELECT o_custkey, o_orderkey, o_totalprice, rk FROM ("
            f"SELECT o_custkey, o_orderkey, o_totalprice, rank() OVER ("
            f"PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk "
            f"FROM orders WHERE o_custkey BETWEEN {lo} AND {lo + 30}) t "
            f"WHERE rk <= 2 ORDER BY o_custkey, rk")
    return body, [body]


def t_percentile(r):
    st, p = r.choice(["O", "P", "F"]), r.choice([0.25, 0.75, 0.9])
    sql = (f"SELECT o_orderpriority, median(o_totalprice) AS med, "
           f"percentile_cont({p}) WITHIN GROUP (ORDER BY o_totalprice) AS pct "
           f"FROM orders WHERE o_orderstatus = '{st}' "
           f"GROUP BY o_orderpriority ORDER BY o_orderpriority")
    duck = (f"SELECT o_orderpriority, median(o_totalprice), "
            f"quantile_cont(o_totalprice, {p}) FROM orders "
            f"WHERE o_orderstatus = '{st}' GROUP BY o_orderpriority ORDER BY o_orderpriority")
    return sql, [duck]


def t_groups_frame(r):
    g, bal = r.choice([1, 2, 3]), r.choice([0, 2500, 5000])
    body = (f"SELECT c_mktsegment, c_nationkey, count(*) OVER ("
            f"PARTITION BY c_mktsegment ORDER BY c_nationkey "
            f"GROUPS BETWEEN {g} PRECEDING AND CURRENT ROW) AS w "
            f"FROM customer WHERE c_acctbal > {bal} AND c_nationkey < 8 "
            f"ORDER BY c_mktsegment, c_nationkey, w")
    wrap = ("SELECT c_mktsegment, c_nationkey, w, count(*) AS k FROM ({}) t "
            "GROUP BY c_mktsegment, c_nationkey, w ORDER BY c_mktsegment, c_nationkey")
    # DuckDB has no GROUPS frames: a RANGE frame over the dense rank is the same
    ranked = (f"SELECT c_mktsegment, c_nationkey, dense_rank() OVER (PARTITION BY "
              f"c_mktsegment ORDER BY c_nationkey) AS dr FROM customer "
              f"WHERE c_acctbal > {bal} AND c_nationkey < 8")
    duck = (f"SELECT c_mktsegment, c_nationkey, count(*) OVER (PARTITION BY c_mktsegment "
            f"ORDER BY dr RANGE BETWEEN {g} PRECEDING AND CURRENT ROW) AS w FROM ({ranked}) r")
    return wrap.format(body), [wrap.format(duck)]


def t_similar_to(r):
    color = r.choice(["blue", "old", "large", "hot", "cold", "small", "new", "red"])
    nouns = "|".join(sorted(r.sample(["widget", "gizmo", "ring", "gear", "bolt", "plate"], 3)))
    sql = (f"SELECT p_brand, count(*) AS n, max(p_retailprice) AS top FROM part "
           f"WHERE p_name SIMILAR TO '{color} ({nouns})' OR p_name SIMILAR TO '% anvil' "
           f"GROUP BY p_brand ORDER BY p_brand")
    duck = (f"SELECT p_brand, count(*), max(p_retailprice) FROM part "
            f"WHERE regexp_full_match(p_name, '{color} ({nouns})') OR p_name LIKE '% anvil' "
            f"GROUP BY p_brand ORDER BY p_brand")
    return sql, [duck]


def t_generate_series(r):
    step = r.choice([3, 5, 7])
    sql = (f"SELECT g.value AS size, count(p.p_partkey) AS n FROM generate_series(1, 50, {step}) AS g "
           f"LEFT JOIN part p ON p.p_size = g.value GROUP BY g.value ORDER BY g.value")
    duck = (f"SELECT g.value, count(p.p_partkey) FROM generate_series(1, 50, {step}) AS g(value) "
            f"LEFT JOIN part p ON p.p_size = g.value GROUP BY g.value ORDER BY g.value")
    return sql, [duck]


def t_info_schema(r):
    names = sorted(r.sample(TABLES, 4))
    inlist = ", ".join(f"'{n}'" for n in names)
    body = (f"SELECT table_name, count(*) AS ncols FROM information_schema.columns "
            f"WHERE table_name IN ({inlist}) GROUP BY table_name ORDER BY table_name")
    return body, [body]


def t_view_script(r):
    bal = r.choice([1000, 4000, 7000])
    view = (f"SELECT c_mktsegment, c_nationkey, c_acctbal FROM customer "
            f"WHERE c_acctbal > {bal}")
    query = ("SELECT c_mktsegment, count(*) AS n, max(c_acctbal) AS top, "
             "count(DISTINCT c_nationkey) AS nations FROM {v} "
             "GROUP BY c_mktsegment ORDER BY c_mktsegment")
    sql = (f"CREATE VIEW v_seg AS {view};\n{query.format(v='v_seg')};\nDROP VIEW v_seg")
    return sql, [None, query.format(v=f"({view}) v"), None]


def t_first_last(r):
    u = r.choice([100, 200, 400])
    sql = (f"SELECT event_type, first_value(value ORDER BY ts) AS first_v, "
           f"last_value(value ORDER BY ts) AS last_v, count(*) AS n FROM events "
           f"WHERE user_id < {u} GROUP BY event_type ORDER BY event_type")
    duck = (f"SELECT event_type, arg_min(value, ts), arg_max(value, ts), count(*) "
            f"FROM events WHERE user_id < {u} GROUP BY event_type ORDER BY event_type")
    return sql, [duck]


def w_insert_parquet(r):
    c, key = r.choice([50, 100, 200]), r.randrange(10**6, 10**7)
    sel = f"SELECT o_orderkey AS k, o_totalprice AS v FROM orders WHERE o_custkey < {c}"
    agg = "SELECT count(*) AS n, CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS total FROM "
    sql = (f"DROP TABLE IF EXISTS w_ext;\n"
           f"CREATE EXTERNAL TABLE w_ext (k BIGINT, v DOUBLE) STORED AS PARQUET "
           f"LOCATION '${{OUT}}';\n"
           f"INSERT INTO w_ext {sel};\n"
           f"INSERT INTO w_ext VALUES ({key}, 1.5);\n"
           f"{agg}w_ext;\nDROP TABLE w_ext")
    duck = f"{agg}({sel} UNION ALL SELECT {key}, 1.5) t"
    return sql, [None, None, None, None, duck, None], f"SELECT count(*) FROM ({sel}) t", 1


def w_ctas(r):
    d = r.choice([0.0, 0.02, 0.05, 0.08])
    sel = (f"SELECT l_returnflag, l_linestatus, count(*) AS n, "
           f"CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty "
           f"FROM lineitem WHERE l_discount = {d} GROUP BY l_returnflag, l_linestatus")
    read = "SELECT * FROM {t} ORDER BY l_returnflag, l_linestatus"
    sql = (f"DROP TABLE IF EXISTS w_ctas;\nCREATE TABLE w_ctas AS {sel};\n"
           f"{read.format(t='w_ctas')};\nDROP TABLE w_ctas")
    return sql, [None, None, read.format(t=f"({sel}) t"), None]


def w_ctas_insert(r):
    a, b = r.choice(["A", "N", "R"]), r.choice(["O", "F"])
    first = (f"SELECT o_orderkey, o_orderpriority FROM orders "
             f"WHERE o_orderstatus = '{b}' AND o_custkey < 100")
    more = (f"SELECT DISTINCT l_orderkey, 'lineitem' FROM lineitem "
            f"WHERE l_returnflag = '{a}' AND l_orderkey < 300")
    read = ("SELECT o_orderpriority, count(*) AS n, min(o_orderkey) AS lo, "
            "max(o_orderkey) AS hi FROM {t} GROUP BY o_orderpriority ORDER BY o_orderpriority")
    sql = (f"DROP TABLE IF EXISTS w_keys;\nCREATE TABLE w_keys AS {first};\n"
           f"INSERT INTO w_keys {more};\n{read.format(t='w_keys')};\nDROP TABLE w_keys")
    union = (f"(SELECT o_orderkey, o_orderpriority FROM ({first}) a UNION ALL "
             f"SELECT * FROM ({more}) b) t")
    return sql, [None, None, None, read.replace("{t}", union), None]


READ_TEMPLATES = [t_filter_agg, t_join_topk, t_window_rank, t_percentile,
                  t_groups_frame, t_similar_to, t_generate_series, t_info_schema,
                  t_view_script, t_first_last]
WRITE_TEMPLATES = [w_insert_parquet, w_ctas, w_ctas_insert]


def sql_ops(rng):
    """The operations of sql_interactive: one seeded instance of every
    template, about one in four rendered as JSON."""
    ops = []
    for tpl in READ_TEMPLATES + WRITE_TEMPLATES:
        out = tpl(rng)
        op = {"id": tpl.__name__, "kind": "sql", "sql": out[0], "expect": out[1]}
        if len(out) > 2:  # a write script whose files are read back
            op["readback"] = True
            op["readback_sql"], op["readback_extra"] = out[2], out[3]
        ops.append(op)
    json_ops = set(rng.sample(range(len(ops)), round(len(ops) / 4)))
    for i, op in enumerate(ops):
        op["json"] = i in json_ops
    return ops


# --------------------------------------------------------------- plans
MAX_PASSES = 200


def make_plan(workload: str, seed: int):
    """Operations and timed-pass orders of `workload` for `seed`."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    rng = random.Random(f"{workload}:{seed}")
    if workload == "sql_interactive":
        ops = sql_ops(rng)
    else:
        ops = [{"id": r, "kind": "row", "row": r, "artifact": r in ARTIFACT_ROWS}
               for r in PIPELINE_WARM]
    passes = []
    for _ in range(MAX_PASSES):
        order = list(range(len(ops)))
        rng.shuffle(order)
        passes.append(order)
    return {"ops": ops, "passes": passes}
