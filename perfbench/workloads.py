"""The benchmark's workloads: what one pass runs, and how each op's
output is checked.

Every op goes through ``LineageSession``, the product path: registry
builder -> facade action or write -> ``plans.extract`` capture ->
reporter. An op's ``run`` is the timed part; its ``verify`` runs after
the timed passes on what ``run`` returned and on the reports the op
emitted. Registry queries are also collected once, untimed, and
compared with their DuckDB oracle.
"""

from __future__ import annotations

import datetime
import os
import random
import re
from collections import Counter
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

LINEITEM_PRICE = "lineitem.l_extendedprice"


@dataclass
class Op:
    name: str
    run: Callable[[], Any]  # one timed execution; its result is kept for verify
    verify: Callable[[Any, list], list[str]]  # (result, reports) -> problems
    catalog: bool = False  # a lineage-catalog query
    # the reports one execution logs, by func_name
    emits: dict[str, int] = field(default_factory=dict)
    # run returns a written target whose logged columns derive from
    # LINEITEM_PRICE: True must, None may (SQL command reports carry no
    # column lineage yet), False must not
    price_output: Optional[bool] = False
    # untimed result collection for the result check, and that check
    collect: Optional[Callable[[], Any]] = None
    collect_verify: Optional[Callable[[Any, list], list[str]]] = None


@dataclass
class Ctx:
    """What ops share within one run."""

    spark: Any
    eng: Any  # LineageSession
    tap: Any  # TapReporter
    tracer: Any
    sf_dir: str
    work: str
    seed: int
    tag: str  # run-unique suffix for table names
    notes: dict = field(default_factory=dict)
    runs: dict = field(default_factory=dict)  # executions so far, per ETL op
    # every op execution so far: {"op", "seq", "phase", "result", "error", ...}
    execs: list = field(default_factory=list)
    _con: Any = None

    def duck(self):
        """DuckDB over the run's tables, opened on first use."""
        if self._con is None:
            from tools.check_oracle import duck_con

            self._con = duck_con(self.sf_dir)
        return self._con


def pass_order(ops: list[Op], seed: int, workload: str, k: int) -> list[Op]:
    """Seeded op order for pass ``k`` (-1 is the warm-up, -2 and below
    the settling passes)."""
    order = list(ops)
    random.Random(f"{seed}:{workload}:pass{k}").shuffle(order)
    return order


def short_name(target: str) -> str:
    """The last component of a path or a qualified table name."""
    return re.split(r"[./]", target.rstrip("/"))[-1]


# -- report checks ----------------------------------------------------------
def expect_reports(reports: list, n: int, target: Callable[[Any], bool], what: str) -> list[str]:
    """``n`` reports, each with inputs, no error and ``target(output)``."""
    if len(reports) != n:
        return [f"{len(reports)} reports, expected {n}"]
    problems = []
    for r in reports:
        if not r.inputs:
            problems.append(f"{r.run.func_name}: report has no inputs")
        if r.run.error:
            problems.append(f"{r.run.func_name}: report carries error {r.run.error}")
        if not target(r.output):
            problems.append(f"{r.run.func_name}: output {r.output} is not {what}")
    return problems


def is_noop(out) -> bool:
    return out is not None and out.format == "noop"


# -- registry query ops (headline_sf0.1) -------------------------------------
def query_op(ctx: Ctx, spec) -> Op:
    from spark_lineage_spark.sources.frame import LineageDataFrame

    def run() -> None:
        with ctx.tracer.span("operators.builder"):
            df = spec.builder(ctx.spark, ctx.sf_dir)
        ctx.tracer.catalyst(df)
        with ctx.tracer.span("sources.action"):
            LineageDataFrame(df, ctx.eng).write.format("noop").mode("overwrite").save()

    def collect():
        return LineageDataFrame(spec.builder(ctx.spark, ctx.sf_dir), ctx.eng).toPandas()

    def collect_verify(pdf, reps) -> list[str]:
        from tools.check_oracle import compare

        problems = expect_reports(reps, 1, lambda o: o is None, "absent (an action)")
        if spec.oracle is None:
            return problems + ([] if len(pdf.columns) else ["result has no columns"])
        return problems + compare(spec.name, pdf, ctx.duck().execute(spec.oracle).fetchdf())

    return Op(
        spec.name,
        run,
        lambda _r, reps: expect_reports(reps, 1, is_noop, "a noop write"),
        emits={"write.save": 1},
        collect=collect,
        collect_verify=collect_verify,
    )


# -- lineage-catalog queries (every workload) ----------------------------------
def catalog_ops(ctx: Ctx) -> list[Op]:
    """The two catalog queries over the run's own lineage log, through
    ``LineageSession.lineage()``. Each result is checked against the op
    executions that ran before the query: what they are known to log
    and to write, not what the reporter saw. Listener reports are left
    out (they arrive on another thread)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    def read_log():
        with ctx.tracer.span("session.lineage_read"):
            try:
                return ctx.eng.lineage()
            except ValueError:  # nothing logged yet (the pass order is random)
                return None

    def by_func():
        log = read_log()
        if log is None:
            return ctx.tracer.op_seq, {}
        with ctx.tracer.span("operators.builder"):
            df = log.groupBy(F.col("run.func_name").alias("f")).count()
        ctx.tracer.catalyst(df)
        with ctx.tracer.span("sources.action"):
            rows = df.collect()
        return ctx.tracer.op_seq, {r["f"]: r["count"] for r in rows}

    def ran_before(seq: int) -> list[dict]:
        # the untimed result collection, which logs toPandas instead of
        # an op's emits, runs after the last catalog query
        return [ex for ex in ctx.execs if ex["seq"] < seq and not ex["error"]]

    def no_reports(reps) -> list[str]:
        return [f"catalog query emitted {len(reps)} reports"] if reps else []

    def verify_by_func(result, reps) -> list[str]:
        seq, counts = result
        want: Counter = Counter()
        for ex in ran_before(seq):
            want.update(ex["op"].emits)
        got = {f: c for f, c in counts.items() if not f.startswith("microbatch:")}
        wrong = [] if got == dict(want) else [f"catalog counts {got} != executions {dict(want)}"]
        return wrong + no_reports(reps)

    def from_price():
        log = read_log()
        lineage = log.schema["columns"].dataType.elementType if log is not None else None
        if not isinstance(lineage, StructType):  # no column lineage logged yet
            return ctx.tracer.op_seq, set()
        with ctx.tracer.span("operators.builder"):
            # a table write names its output; a path write only lists it
            out = F.coalesce(F.col("output.name"), F.try_element_at("output.paths", F.lit(1)))
            df = (
                log.select(out.alias("out"), F.explode("columns").alias("c"))
                .filter(F.array_contains("c.inputs", LINEITEM_PRICE) & F.col("out").isNotNull())
                .select("out")
                .distinct()
            )
        ctx.tracer.catalyst(df)
        with ctx.tracer.span("sources.action"):
            rows = df.collect()
        return ctx.tracer.op_seq, {r["out"] for r in rows}

    def verify_from_price(result, reps) -> list[str]:
        seq, outs = result
        got = {short_name(o) for o in outs}
        ran = ran_before(seq)
        must = {short_name(ex["result"]) for ex in ran if ex["op"].price_output}
        may = must | {short_name(ex["result"]) for ex in ran if ex["op"].price_output is None}
        wrong = [] if must <= got <= may else [
            f"outputs from {LINEITEM_PRICE}: {sorted(got)}, written {sorted(must)} (and maybe {sorted(may - must)})"
        ]
        return wrong + no_reports(reps)

    return [
        Op("catalog_reports_by_func", by_func, verify_by_func, catalog=True),
        Op("catalog_outputs_from_price", from_price, verify_from_price, catalog=True),
    ]


def is_listener_report(report) -> bool:
    """A report from ``LineageStreamingListener`` (one per micro-batch)."""
    return report.run.func_name.startswith("microbatch:")


# -- catalog_etl_sf0.01 --------------------------------------------------------
@dataclass
class EtlConstants:
    min_value: float  # events ingested with value above this
    ship_from: datetime.date  # lineitem rows shipped on or after this
    min_discount: float  # CTAS revenue over discounts at or above this

    @classmethod
    def from_seed(cls, seed: int) -> "EtlConstants":
        rng = random.Random(f"{seed}:etl")
        return cls(
            min_value=round(rng.uniform(20.0, 30.0), 2),
            ship_from=datetime.date(1998, 1, 1) + datetime.timedelta(days=rng.randrange(180)),
            min_discount=rng.choice([0.02, 0.03, 0.04]),
        )


def etl_ops(ctx: Ctx) -> list[Op]:
    """One pass of ``catalog_etl_sf0.01``: a foreachBatch file-stream
    ingest, two facade parquet writes, a CTAS and an INSERT INTO, then
    the catalog queries — all in one long-lived session and log."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    c = EtlConstants.from_seed(ctx.seed)
    ctx.notes["etl_constants"] = {
        "min_value": c.min_value,
        "ship_from": str(c.ship_from),
        "min_discount": c.min_discount,
    }
    spark, eng = ctx.spark, ctx.eng
    src = os.path.join(ctx.work, "stream_src")
    os.makedirs(src, exist_ok=True)
    events = pq.read_table(os.path.join(ctx.sf_dir, "events.parquet"))
    half = events.num_rows // 2
    pq.write_table(events.slice(0, half), os.path.join(src, "part-0.parquet"))
    pq.write_table(events.slice(half), os.path.join(src, "part-1.parquet"))
    schema = spark.read.parquet(src).schema
    for t in ("lineitem", "orders"):
        spark.read.parquet(os.path.join(ctx.sf_dir, f"{t}.parquet")).createOrReplaceTempView(t)
    revenue = f"etl_revenue_{ctx.tag}"
    spark.sql(f"CREATE TABLE {revenue} (l_orderkey BIGINT, revenue DOUBLE) USING parquet")
    out = lambda name, n: os.path.join(ctx.work, "out", f"{name}_{n}")

    def nth(op: str) -> int:
        """Number this execution of ``op``: every run writes a new target."""
        n = ctx.runs.get(op, 0)
        ctx.runs[op] = n + 1
        return n

    def ingest() -> str:
        n = nth("ingest")
        target = out("events_hot", n)

        def handle(batch, _epoch):
            batch.filter(F.col("value") > c.min_value).write.mode("append").parquet(target)

        with ctx.tracer.span("operators.builder"):
            stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        with ctx.tracer.span("streaming.ingest"):
            q = (
                stream.writeStream.foreachBatch(eng.foreach_batch(handle))
                .option("checkpointLocation", out("ckpt", n))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return target

    def write_lineitem() -> str:
        target = out("lineitem_recent", nth("write_lineitem"))
        with ctx.tracer.span("operators.builder"):
            df = eng.read.parquet(os.path.join(ctx.sf_dir, "lineitem.parquet")).filter(
                F.col("l_shipdate") >= F.lit(c.ship_from)
            ).select("l_orderkey", "l_partkey", "l_extendedprice", "l_discount", "l_shipdate")
        ctx.tracer.catalyst(df.df)
        with ctx.tracer.span("sources.action"):
            df.write.mode("overwrite").parquet(target)
        return target

    def write_orders() -> str:
        target = out("customer_spend", nth("write_orders"))
        with ctx.tracer.span("operators.builder"):
            df = (
                eng.read.parquet(os.path.join(ctx.sf_dir, "orders.parquet"))
                .filter(F.col("o_orderdate") >= F.lit(c.ship_from))
                .groupBy("o_custkey")
                .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
            )
        ctx.tracer.catalyst(df.df)
        with ctx.tracer.span("sources.action"):
            df.write.mode("overwrite").parquet(target)
        return target

    def ctas() -> str:
        table = f"etl_discounted_{ctx.tag}_{nth('ctas')}"
        with ctx.tracer.span("sources.action"):
            res = eng.sql(
                f"CREATE TABLE {table} USING parquet AS SELECT l_orderkey, "
                "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
                f"FROM lineitem WHERE l_discount >= {c.min_discount} GROUP BY l_orderkey"
            )
        ctx.tracer.catalyst(res.df)
        return table

    def insert() -> str:
        nth("insert")
        with ctx.tracer.span("sources.action"):
            res = eng.sql(
                f"INSERT INTO {revenue} SELECT l_orderkey, "
                "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue FROM lineitem "
                f"WHERE l_shipdate >= DATE'{c.ship_from}' AND l_returnflag = 'R' GROUP BY l_orderkey"
            )
        ctx.tracer.catalyst(res.df)
        return revenue

    def to_path(target, reps) -> list[str]:
        return expect_reports(reps, 1, lambda o: o is not None and o.paths == [target], target)

    def to_table(table, reps) -> list[str]:
        return expect_reports(
            reps, 1, lambda o: o is not None and (o.name or "").endswith(table), f"table {table}"
        )

    def per_batch(target, reps) -> list[str]:
        # one foreachBatch write report per micro-batch (two files, one per trigger)
        problems = expect_reports(reps, 2, lambda o: o is not None and o.paths == [target], target)
        return problems + [
            f"{r.run.func_name}: not tagged with its epoch"
            for r in reps
            if not r.run.func_name.startswith("foreachBatch[")
        ]

    return [
        Op("ingest_events_stream", ingest, per_batch,
           emits={"foreachBatch[0]:write.parquet": 1, "foreachBatch[1]:write.parquet": 1}),
        Op("write_lineitem_parquet", write_lineitem, to_path, emits={"write.parquet": 1}, price_output=True),
        Op("write_customer_spend_parquet", write_orders, to_path, emits={"write.parquet": 1}),
        Op("ctas_discounted_revenue", ctas, to_table, emits={"sql.command": 1}, price_output=None),
        Op("insert_returned_revenue", insert, to_table, emits={"sql.command": 1}, price_output=None),
    ] + catalog_ops(ctx)


def etl_output_problems(ctx: Ctx) -> dict[str, list[str]]:
    """Check what the ETL ops wrote against DuckDB over the same inputs:
    every ingest output, the last CTAS table and the INSERT target.
    Returns problems per op."""
    c = EtlConstants.from_seed(ctx.seed)
    q = lambda sql: ctx.duck().execute(sql).fetchone()[0]
    hot = q(f"SELECT count(*) FROM events WHERE value > {c.min_value}")
    checks = [
        ("ingest_events_stream", f"output {k}", hot,
         lambda s, k=k: s.read.parquet(os.path.join(ctx.work, "out", f"events_hot_{k}")))
        for k in range(ctx.runs.get("ingest", 0))
    ]
    checks.append((
        "ctas_discounted_revenue", "last table",
        q(f"SELECT count(DISTINCT l_orderkey) FROM lineitem WHERE l_discount >= {c.min_discount}"),
        lambda s: s.table(f"etl_discounted_{ctx.tag}_{ctx.runs.get('ctas', 0) - 1}"),
    ))
    checks.append((
        "insert_returned_revenue", "target table",
        ctx.runs.get("insert", 0) * q(
            "SELECT count(DISTINCT l_orderkey) FROM lineitem "
            f"WHERE l_shipdate >= DATE '{c.ship_from}' AND l_returnflag = 'R'"
        ),
        lambda s: s.table(f"etl_revenue_{ctx.tag}"),
    ))
    problems: dict[str, list[str]] = {}
    for op, what, want, read in checks:
        try:
            got = read(ctx.spark).count()
        except Exception as e:  # a missing output is a failed op, reported as such
            got = f"unreadable ({type(e).__name__})"
        if got != want:
            problems.setdefault(op, []).append(f"{what}: {got} rows, expected {want}")
    return problems
