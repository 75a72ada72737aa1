"""The workloads: the MLSQL scripts each one runs and the DuckDB
oracle every script's result is checked against.

A workload is a plan for the JVM side (perfbench.Main) plus, per script
name, the oracle SQL over the same generated inputs. Scripts read inputs by
absolute path and write only relative paths, which the engine re-roots
under the tenant's home directory.
"""
import os

from gen import STREAM

# ---------------------------------------------------------------- interactive

INTERACTIVE_TENANTS = ["alice", "bob"]

# Registered once per tenant during set-up, spliced by `include view.`.
CUST_FRAGMENT = ("select c_custkey, c_name, c_nationkey, c_acctbal from customer "
                 "as cust_view;")


def _interactive_scripts(d):
    load = lambda t: f"load parquet.`{d}/{t}` as {t};"  # noqa: E731
    return [
        ("i01_pricing_summary", f"""{load('lineitem')}
set cutoff = "1998-09-02";
select l_returnflag, l_linestatus,
 CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
 CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc,
 COUNT(*) AS cnt
FROM lineitem WHERE l_shipdate <= DATE '${{cutoff}}'
GROUP BY l_returnflag, l_linestatus as out;""",
         """SELECT l_returnflag, l_linestatus,
 CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
 CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc,
 COUNT(*) AS cnt
FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus"""),
        ("i02_star_join", f"""{load('region')} {load('nation')} {load('customer')}
{load('orders')} {load('lineitem')}
select /*+ BROADCAST(nation), BROADCAST(region) */ r_name,
 CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
 COUNT(*) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name as out;""",
         """SELECT r_name,
 CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
 COUNT(*) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name"""),
        ("i03_set_sql", f"""{load('region')} {load('nation')}
set mx = '''select max(r_regionkey) from region''' where type="sql";
select n_nationkey, n_name from nation where n_regionkey <= ${{mx}} - 2 as out;""",
         """SELECT n_nationkey, n_name FROM nation
WHERE n_regionkey <= (SELECT MAX(r_regionkey) FROM region) - 2"""),
        ("i04_jsonstr", """set rawdata = '''{"id":1,"tag":"alpha"}
{"id":2,"tag":"beta"}
{"id":3,"tag":"gamma"}''';
load jsonStr.`rawdata` as jt;
select id, tag from jt as out;""",
         """SELECT CAST(id AS BIGINT) AS id, tag
FROM (VALUES (1, 'alpha'), (2, 'beta'), (3, 'gamma')) t(id, tag)"""),
        ("i05_pivot", f"""{load('orders')}
select o_orderpriority, o_orderstatus, CAST(1 AS BIGINT) AS one from orders as base;
run base as Pivot.`` where groupBy="o_orderpriority" and pivot="o_orderstatus"
  and agg="sum" and aggCol="one" and values="F,O,P" as out;""",
         """SELECT o_orderpriority,
 CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS "F",
 CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS "O",
 CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS "P"
FROM orders GROUP BY o_orderpriority"""),
        ("i06_branch", f"""{load('customer')}
!if '''(select count(*) from customer where c_acctbal < 0) > 0''';
select 'has_debtors' as verdict, count(*) as n from customer where c_acctbal < 0 as out;
!else;
select 'no_debtors' as verdict, count(*) as n from customer as out;
!fi;""",
         """SELECT 'has_debtors' AS verdict, COUNT(*) AS n FROM customer WHERE c_acctbal < 0"""),
        ("i07_save_roundtrip", f"""{load('orders')}
select o_orderkey, o_orderstatus, o_totalprice from orders where o_orderpriority = '1-URGENT' as picked;
save overwrite picked as parquet.`rt/urgent` where fileNum="2";
load parquet.`rt/urgent` as back;
select o_orderstatus, count(*) as n,
 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
from back group by o_orderstatus as out;""",
         """SELECT o_orderstatus, COUNT(*) AS n,
 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderstatus"""),
        ("i08_script_udf", f"""{load('nation')}
register ScriptUDF.`` as keyScore where
  code='''def apply(k: Int, r: Int): Int = k * 2 + r''';
select n_nationkey, keyScore(n_nationkey, n_regionkey) as score from nation as out;""",
         "SELECT n_nationkey, n_nationkey * 2 + n_regionkey AS score FROM nation"),
        ("i09_include_view", f"""{load('customer')} {load('nation')}
set minbal = "8000";
include view.`cust_view`;
select n_name, count(*) as n_rich from cust_view join nation on c_nationkey = n_nationkey
where c_acctbal > ${{minbal}} group by n_name as out;""",
         """SELECT n_name, COUNT(*) AS n_rich FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > 8000 GROUP BY n_name"""),
        ("i10_window_topn", f"""{load('customer')} {load('orders')}
select c_nationkey, c_custkey,
 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
from orders join customer on o_custkey = c_custkey group by c_nationkey, c_custkey as spend;
select c_nationkey, c_custkey, spend from (
 select *, row_number() over (partition by c_nationkey order by spend desc, c_custkey) as rn
 from spend) where rn <= 3 as out;""",
         """SELECT c_nationkey, c_custkey, spend FROM (
 SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY spend DESC, c_custkey) AS rn
 FROM (SELECT c_nationkey, c_custkey,
   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
   FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_nationkey, c_custkey))
WHERE rn <= 3"""),
        ("i11_set_compile", f"""set lim = '''select 2 + 1''' where type="sql" and mode="compile";
set lim = "99" where type="defaultParam";
{load('nation')}
select n_nationkey, n_name from nation where n_regionkey < ${{lim}} as out;""",
         "SELECT n_nationkey, n_name FROM nation WHERE n_regionkey < 3"),
        ("i12_kcore", f"""{load('edges')}
run edges as KCore.`` where srcCol="a" and dstCol="b" and k="{KCORE_K}"
  and localFinishEdges="0" as core;
select node, deg from core as out;""", _kcore_oracle()),
        ("i13_trustrank", f"""{load('edges')}
select n from (select a as n from edges union select b as n from edges)
  where n % 7 = 0 as seeds;
run edges as TrustRank.`` where srcCol="a" and dstCol="b" and seedTable="seeds"
  and seedCol="n" and iterations="{TRUST_ITERATIONS}" as trust;
select node, trust_fp from trust as out;""", _trustrank_oracle()),
    ]


# The graph ETs' loops, replayed round by round. `localFinishEdges="0"`
# keeps KCore peeling with Spark jobs (the graph is small enough that it
# would otherwise finish on the driver), as it does on large graphs.
KCORE_K = 4
TRUST_ITERATIONS = 2

# Script → the ET it runs, for the per-ET metrics (`ets.<et>_ms`).
ETS = {"i05_pivot": "pivot", "i12_kcore": "kcore", "i13_trustrank": "trustrank"}


def _kcore_oracle(rounds=8):
    peel = ",\n".join(
        f"""a{i} AS MATERIALIZED (SELECT e.u AS node, COUNT(*) AS deg
 FROM e JOIN a{i - 1} x ON x.node = e.u JOIN a{i - 1} y ON y.node = e.v
 GROUP BY e.u HAVING COUNT(*) >= {KCORE_K})""" for i in range(1, rounds + 1))
    return f"""WITH e AS MATERIALIZED (SELECT DISTINCT u, v FROM
  (SELECT a AS u, b AS v FROM edges UNION ALL SELECT b, a FROM edges) WHERE u <> v),
a0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM e),
{peel}
SELECT node, CAST(deg AS BIGINT) AS deg FROM a{rounds}"""


def _trustrank_oracle(unit=1000000000000):
    rank = ",\n".join(
        f"""dm{i} AS MATERIALIZED (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS dm
 FROM r{i - 1} JOIN sinks ON sinks.node = r{i - 1}.node),
is{i} AS MATERIALIZED (SELECT e.v AS node, CAST(SUM(r{i - 1}.r // deg.outdeg) AS BIGINT) AS insum
 FROM e JOIN deg ON deg.u = e.u JOIN r{i - 1} ON r{i - 1}.node = e.u GROUP BY e.v),
r{i} AS MATERIALIZED (SELECT n.node,
  CASE WHEN sd.node IS NOT NULL THEN 15 * {unit} // (100 * p.s) ELSE 0 END +
  (85 * (COALESCE(i.insum, 0) + CASE WHEN sd.node IS NOT NULL THEN d.dm // p.s ELSE 0 END)) // 100 AS r
 FROM nodes n LEFT JOIN seedset sd ON sd.node = n.node CROSS JOIN p CROSS JOIN dm{i} d
 LEFT JOIN is{i} i ON i.node = n.node)""" for i in range(1, TRUST_ITERATIONS + 1))
    return f"""WITH e AS MATERIALIZED (SELECT DISTINCT a AS u, b AS v FROM edges),
nodes AS MATERIALIZED (SELECT u AS node FROM e UNION SELECT v FROM e),
seedset AS MATERIALIZED (SELECT node FROM nodes WHERE node % 7 = 0),
p AS (SELECT COUNT(*) AS s FROM seedset),
deg AS MATERIALIZED (SELECT u, COUNT(*) AS outdeg FROM e GROUP BY u),
sinks AS MATERIALIZED (SELECT node FROM nodes WHERE node NOT IN (SELECT u FROM e)),
r0 AS MATERIALIZED (SELECT n.node, CASE WHEN sd.node IS NOT NULL THEN {unit} // p.s ELSE 0 END AS r
 FROM nodes n LEFT JOIN seedset sd ON sd.node = n.node CROSS JOIN p),
{rank}
SELECT node, CAST(r AS BIGINT) AS trust_fp FROM r{TRUST_ITERATIONS}"""


def interactive(inputs):
    scripts = _interactive_scripts(inputs)
    setup = [{"name": "register_fragment", "text":
              f"select 1 as x as frag_src;\nrun frag_src as ScriptFragment.`cust_view` "
              f"where code='''{CUST_FRAGMENT}''' as frag;"}]
    plan = {"mode": "closed", "tenants": INTERACTIVE_TENANTS, "setup": setup,
            "scripts": [{"name": n, "text": t} for n, t, _ in scripts], "slice_ms": 2500}
    return plan, {n: o for n, _, o in scripts}


# -------------------------------------------------------------- stream_ingest

STREAM_SCHEMA = "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, amount BIGINT"


def _stream_scripts(name, source, out, ck):
    w = STREAM
    start = f"""set streamName = "{name}";
load streamjson.`{source}` where schema="{STREAM_SCHEMA}" and maxFilesPerTrigger="1"
  and eventTimeCol="ts" and delayThreshold="{w['delay_s']} seconds" as events;
select unix_seconds(window.start) AS wstart, COUNT(*) AS cnt, SUM(amount) AS total,
  MIN(amount) AS mn, MAX(amount) AS mx
from events group by window(ts, "{w['window_s']} seconds") as agg;
save append agg as upsertparquet.`{out}` where mode="update" and idCols="wstart"
  and checkpointLocation="{ck}";"""
    read = f"""load vparquet.`{out}` as result;
select wstart, cnt, total, mn, mx from result as out;"""
    return start, read


def stream_oracle(files_glob):
    """Every streamed row, tagged with its window and with the watermark the
    engine checks it against: the newest event time of all files up to two
    before its own, minus the delay (one file per micro-batch; a late-event
    check uses the watermark the previous micro-batch started with). A row
    is late when its window ended at or before that watermark."""
    w = STREAM
    return f"""WITH raw AS (
  SELECT *, epoch_ms(CAST(ts AS TIMESTAMP)) AS t, filename AS f
  FROM read_json('{files_glob}', filename = true,
    columns = {{'event_id': 'BIGINT', 'user_id': 'BIGINT', 'ts': 'VARCHAR', 'amount': 'BIGINT'}})),
fmax AS (SELECT f, MAX(t) AS m FROM raw GROUP BY f),
wm AS (SELECT f, MAX(m) OVER (ORDER BY f ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
  - {w['delay_s'] * 1000} AS wm FROM fmax)
SELECT raw.*, (t // {w['window_s'] * 1000}) * {w['window_s']} AS wstart,
  wm.wm IS NOT NULL AND (t // {w['window_s'] * 1000} + 1) * {w['window_s'] * 1000} <= wm.wm AS late
FROM raw JOIN wm USING (f)"""


def stream_ingest(inputs, home, backlog, paced, interval_ms):
    source = os.path.join(home, "stream", "src")
    warm_source = os.path.join(home, "stream", "warm_src")
    for d in (source, warm_source):
        os.makedirs(d, exist_ok=True)
    start, read = _stream_scripts("ingest", source, "stream_out", "stream_ck")
    wstart, wread = _stream_scripts("warm", warm_source, "warm_out", "warm_ck")
    files = sorted(os.listdir(os.path.join(inputs, "staged")))
    warm_files = sorted(os.listdir(os.path.join(inputs, "warm_staged")))
    plan = {"mode": "stream", "tenants": ["stream"], "setup": [], "scripts": [],
            "stream": {
                "staged_dir": os.path.join(inputs, "staged"), "source_dir": source,
                "backlog": files[:backlog], "paced": files[backlog:backlog + paced],
                "interval_ms": interval_ms, "timeout_ms": 30000,
                "query_name": "ingest", "start_script": start, "read_script": read,
                "warmup": {"staged_dir": os.path.join(inputs, "warm_staged"),
                           "source_dir": warm_source, "files": warm_files,
                           "query_name": "warm", "start_script": wstart, "read_script": wread}}}
    return plan
