"""The two workloads: what one pass issues and how each result is checked.

``tpch_point`` sends SQL text through ``GlareSession.sql``: the 22 TPC-H
queries plus short interactive statements. ``corpus_cdc`` calls the
corpus operators' registry builders and runs CDC micro-batches through the
native Iceberg writer and reader. Both are closed loops with one client;
the seed sets the lookup keys, the CDC key ranges and where the CDC
cycles fall between the corpus operators.
"""

from __future__ import annotations

import datetime as dt
import inspect
import os
import random
from dataclasses import dataclass, field
from typing import Callable

from checks import compare_rows

POINT_TEMPLATES = {
    "orders_key": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "o_orderdate FROM orders WHERE o_orderkey = {order}"
    ),
    "customer_key": (
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
        "FROM customer WHERE c_custkey = {cust}"
    ),
    "lineitem_key": (
        "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, "
        "l_extendedprice FROM lineitem WHERE l_orderkey = {line} "
        "ORDER BY l_linenumber"
    ),
    "nation_join": (
        "SELECT n_name, COUNT(*) AS customers, SUM(c_acctbal) AS balance "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "WHERE c_mktsegment = '{segment}' GROUP BY n_name "
        "ORDER BY customers DESC, n_name LIMIT 5"
    ),
    "values": (
        "SELECT a, b, a * b AS p FROM (VALUES ({x}, {y}), ({y}, {x}), "
        "({x}, {x})) AS t(a, b) ORDER BY a, b"
    ),
    "read_parquet": (
        "SELECT n_regionkey, COUNT(*) AS n FROM "
        "read_parquet('{sf_dir}/nation.parquet') WHERE n_nationkey < {nk} "
        "GROUP BY n_regionkey ORDER BY n_regionkey"
    ),
    "interval": (
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderdate >= "
        "DATE '{day}' AND o_orderdate < DATE '{day}' + INTERVAL '{days}' DAY"
    ),
}
POINTS_PER_TEMPLATE = 7

CORPUS_OPS = (
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "knn_bruteforce_cosine",
    "text_token_stats",
    "text_pii_redact",
    "pipeline_corpus_clean",
    "dedup_semdedup",
)
CORPUS_MODULES = ("dedup", "similarity", "text", "scrub", "pipeline",
                  "semantic")
CDC_BATCHES = 5  # per pass; PURGE runs after every CDC_BATCHES batches
CDC_BATCH_ROWS = 20_000
CDC_RANGE_ROWS = 2_000


@dataclass
class Op:
    kind: str  # tpch | point | corpus | commit | read | purge
    name: str
    run: Callable[[], object]
    check: Callable[[object], "str | None"] = lambda _: None


@dataclass
class Inputs:
    """Key pools read once from the fixture (not timed)."""

    orders: list[int] = field(default_factory=list)
    lineitem_orders: list[int] = field(default_factory=list)
    customers: list[int] = field(default_factory=list)
    segments: list[str] = field(default_factory=list)
    order_status: list[str] = field(default_factory=list)
    order_price: list[float] = field(default_factory=list)


def read_inputs(sf_dir: str) -> Inputs:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    o = pq.read_table(os.path.join(sf_dir, "orders.parquet"),
                      columns=["o_orderkey", "o_orderstatus", "o_totalprice"])
    o = o.sort_by("o_orderkey")
    c = pq.read_table(os.path.join(sf_dir, "customer.parquet"),
                      columns=["c_custkey", "c_mktsegment"])
    li = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"),
                       columns=["l_orderkey"])
    return Inputs(
        orders=o["o_orderkey"].to_pylist(),
        lineitem_orders=sorted(pc.unique(li["l_orderkey"]).to_pylist()),
        customers=sorted(c["c_custkey"].to_pylist()),
        segments=sorted(pc.unique(c["c_mktsegment"]).to_pylist()),
        order_status=o["o_orderstatus"].to_pylist(),
        order_price=o["o_totalprice"].to_pylist(),
    )


def point_statement(template: str, rng: random.Random, inp: Inputs,
                    sf_dir: str) -> str:
    day = dt.date(1995, 1, 1) + dt.timedelta(days=rng.randrange(0, 2350))
    return POINT_TEMPLATES[template].format(
        order=rng.choice(inp.orders),
        cust=rng.choice(inp.customers),
        line=rng.choice(inp.lineitem_orders),
        segment=rng.choice(inp.segments),
        x=rng.randrange(-1000, 1000),
        y=rng.randrange(-1000, 1000),
        sf_dir=sf_dir,
        nk=rng.randrange(1, 26),
        day=day.isoformat(),
        days=rng.choice((7, 30, 90)),
    )


def collect(tracer, df, pandas: bool = False):
    """Run ``df`` to the client. A traced run forces the physical plan
    first, so planning and execution are timed apart."""
    fetch = df.toPandas if pandas else df.collect
    if tracer is None:
        return fetch()
    with tracer.span("catalyst.plan"):
        df._jdf.queryExecution().executedPlan()
    with tracer.span("exec.collect"):
        return fetch()


def tpch_point_pass(ctx, rng: random.Random) -> list[Op]:
    """The 22 TPC-H queries and the point statements in one fixed
    interleaving; the seed draws the point statements' keys.

    The order is fixed because a query's first run in a process pays code
    generation and JIT costs that depend on what ran before it; under a
    seeded order single queries varied up to 2.6x between seeds."""
    from glaredb_spark.registry import ORACLES

    def sql_op(kind, name, text):
        return Op(kind, name,
                  lambda: collect(ctx.tracer, ctx.sess.sql(text)),
                  lambda rows: compare_rows(rows, ctx.oracle().rows(text)))

    ops = [sql_op("tpch", f"tpch_q{i:02d}", ORACLES[f"tpch_q{i:02d}"])
           for i in range(1, 23)]
    for tpl in POINT_TEMPLATES:
        for _ in range(POINTS_PER_TEMPLATE):
            ops.append(sql_op("point", tpl, point_statement(
                tpl, rng, ctx.inputs, ctx.sf_dir)))
    random.Random(0).shuffle(ops)
    return ops


WARMUP_TPCH = 11  # TPC-H queries the warm-up runs, in the pass's order


def tpch_point_warmup(ctx) -> None:
    """Untimed: one statement of each template and the first WARMUP_TPCH
    TPC-H queries, with fixed keys, in the pass's order. Early in a
    process, queries pay JIT compilation of the code they all share, with
    the compiler threads competing with the task threads for the cores;
    in a cold pass that made the spread exceed the bounds."""
    seen = set()
    tpch = 0
    for op in tpch_point_pass(ctx, random.Random(0)):
        if op.kind == "tpch":
            tpch += 1
            if tpch > WARMUP_TPCH:
                continue
        elif op.name in seen:
            continue
        seen.add(op.name)
        op.run()


def corpus_cdc_warmup(ctx) -> None:
    """Untimed: start one Python worker per task slot with pandas and
    pyarrow imported (the first Arrow UDF of a process otherwise pays it,
    on whichever operator the seed puts first), read the table once, and
    build (not run) the plan of every builder registered with
    ``cache_plan``, as a session that ran it before would hold it. The
    pass's call of such a builder is then a plan-cache hit, and a broken
    cache shows as a rebuild inside the timed op."""
    from glaredb_spark.registry import QUERIES

    cpus = ctx.spark.sparkContext.defaultParallelism
    ctx.spark.range(0, 4 * cpus, 1, cpus).mapInPandas(
        lambda frames: frames, "id long").count()
    ctx.cdc.aggregate_op("warmup").run()
    for name in CORPUS_OPS:
        builder = QUERIES[name]
        if hasattr(builder, "__wrapped__"):  # registered with cache_plan
            ctx.plans[name] = builder(ctx.spark, ctx.sf_dir)


class CdcTable:
    """An Iceberg table fed by CDC micro-batches over ``orders``, with the
    expected last-wins state kept beside it."""

    def __init__(self, ctx, root: str):
        self.ctx = ctx
        self.root = root
        inp = ctx.inputs
        self.keys = inp.orders
        self.status = inp.order_status
        self.price = list(inp.order_price)  # expected current prices
        self.batches = 0
        self.initial_bytes = 0

    def load(self) -> None:
        from glaredb_spark.sources import iceberg_native as ice

        ice.upsert_iceberg_native(self.ctx.spark, self.root,
                                  self._orders(), on=["o_orderkey"])
        self.initial_bytes = dir_bytes(os.path.join(self.root, "data"))

    def _orders(self):
        return self.ctx.sess.table("orders")

    def commit_op(self, rng: random.Random) -> Op:
        from pyspark.sql import functions as F

        from glaredb_spark.sources import iceberg_native as ice

        self.batches += 1
        b = self.batches
        i = rng.randrange(0, len(self.keys) - CDC_BATCH_ROWS)
        lo, hi = self.keys[i], self.keys[i + CDC_BATCH_ROWS - 1]

        def run():
            batch = self._orders().filter(
                f"o_orderkey BETWEEN {lo} AND {hi}"
            ).withColumn("o_totalprice",
                         F.col("o_totalprice") + F.lit(float(b)))
            ice.upsert_iceberg_native(self.ctx.spark, self.root, batch,
                                      on=["o_orderkey"])

        def check(_):
            # last wins: the batch's rows replace every older version
            orig = self.ctx.inputs.order_price
            for j in range(i, i + CDC_BATCH_ROWS):
                self.price[j] = orig[j] + float(b)

        return Op("commit", f"upsert_b{b}", run, check)

    def _read(self):
        from glaredb_spark.sources import iceberg_native as ice

        return ice.read_iceberg_native(self.ctx.spark, self.root)

    def aggregate_op(self, label: str) -> Op:
        from pyspark.sql import functions as F

        def run():
            df = self._read().groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_totalprice").alias("total"),
            )
            return collect(self.ctx.tracer, df)

        def check(rows):
            want: dict[str, list] = {}
            for s, p in zip(self.status, self.price):
                acc = want.setdefault(s, [0, 0.0])
                acc[0] += 1
                acc[1] += p
            return compare_rows(
                rows, [(s, n, t) for s, (n, t) in want.items()])

        return Op("read", label, run, check)

    def range_op(self, rng: random.Random) -> Op:
        i = rng.randrange(0, len(self.keys) - CDC_RANGE_ROWS)
        lo, hi = self.keys[i], self.keys[i + CDC_RANGE_ROWS - 1]

        def run():
            df = self._read().filter(
                f"o_orderkey BETWEEN {lo} AND {hi}"
            ).select("o_orderkey", "o_totalprice")
            return collect(self.ctx.tracer, df)

        def check(rows):
            want = list(zip(self.keys[i:i + CDC_RANGE_ROWS],
                            self.price[i:i + CDC_RANGE_ROWS]))
            return compare_rows(rows, want)

        return Op("read", "range_read", run, check)

    def purge_op(self) -> Op:
        from glaredb_spark.sources import iceberg_native as ice

        return Op("purge", "purge",
                  lambda: ice.purge_iceberg_native(self.ctx.spark, self.root))

    def state(self) -> dict:
        """Files, manifests and bytes of the table's current snapshot."""
        from glaredb_spark.sources import iceberg_native as ice

        meta = inspect.unwrap(ice.table_metadata)(self.root)
        manifests = ice._manifest_list_entries(meta, self.root)
        data = deletes = 0
        for e in ice._manifest_entries(meta, self.root):
            if e.get("status") == 2:
                continue
            if int(e["data_file"].get("content") or 0) == 0:
                data += 1
            else:
                deletes += 1
        return {
            "data_files": data,
            "delete_files": deletes,
            "manifests": len(manifests),
            "metadata_bytes": dir_bytes(os.path.join(self.root, "metadata")),
            "table_bytes": dir_bytes(self.root),
        }


def corpus_op(ctx, name: str) -> Op:
    from glaredb_spark.registry import QUERIES

    builder = QUERIES[name]
    tracer = ctx.tracer

    def run():
        if tracer is None:
            return builder(ctx.spark, ctx.sf_dir).toPandas()
        with tracer.span("plancache.build"):
            df = builder(ctx.spark, ctx.sf_dir)
        if hasattr(builder, "__wrapped__"):  # registered with cache_plan
            ctx.note_plan(name, df)
        return collect(tracer, df, pandas=True)

    return Op("corpus", name, run, lambda pdf: ctx.compare_corpus(name, pdf))


def corpus_cdc_pass(ctx, rng: random.Random) -> list[Op]:
    """The corpus operators in pipeline order, with CDC cycles (upsert,
    MoR aggregate, key-range read) slotted between them at seeded
    positions, then PURGE and one aggregate read of the purged table.

    The operator order is fixed, as in a prep pipeline: each operator's
    first-call cost depends on which operators ran before it (shared
    UDF code, JIT), and a seeded order made that dominate the spread."""
    corpus = [corpus_op(ctx, n) for n in CORPUS_OPS]
    table = ctx.cdc
    cycles = []
    for _ in range(CDC_BATCHES):
        cycles.append([table.commit_op(rng), table.aggregate_op("mor_read"),
                       table.range_op(rng)])
    slots = sorted(rng.sample(range(len(corpus) + 1), CDC_BATCHES))
    ops: list[Op] = []
    for k, op in enumerate(corpus + [None]):
        if slots and slots[0] == k:  # slots are distinct
            slots.pop(0)
            ops.extend(cycles.pop(0))
        if op is not None:
            ops.append(op)
    ops += [table.purge_op(), table.aggregate_op("purged_read")]
    return ops


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total
