"""Workload ``sinapi_monthly``: three monthly ``run_etl`` loads into an
empty Parquet warehouse, then a closed-loop 1:1:1 read mix (cost
lookup, BOM cost, price history) from one client.

It is the only workload that parses CSVs, rewrites Parquet tables and
serves small reads whose latency comes from driver-side planning rather
than data volume.
"""

from __future__ import annotations

import os
import random
import time
from statistics import median

from perfbench import gen_sinapi
from perfbench.common import parquet_bytes, sha256_files, tail_percentile
from perfbench.trace import planning_ms

MIN_READS = 21  # the median needs at least 10 reads beyond it
READ_KINDS = ("cost_lookup", "bom_cost", "price_history")
ETL_TABLES = ("manutencoes_historico", "precos_insumos_mensal", "custos_composicoes_mensal")


def generate(work: str, seed: int):
    months = gen_sinapi.generate(os.path.join(work, "inputs"), seed)
    files = gen_sinapi.input_files(months)
    return {
        "months": months,
        "digest": sha256_files(files),
        "input_bytes": sum(os.path.getsize(f) for f in files),
    }


def wrap_layers(tracer) -> None:
    from autosinapi_spark import pipeline
    from autosinapi_spark.operators import bom, sinks
    from autosinapi_spark.sources import csv_source

    tracer.wrap(csv_source, "read_discovered_csv", jobs=True)
    for fn in ("upsert", "append_ignore_conflicts", "write_overwrite"):
        tracer.wrap(sinks, fn)
    tracer.wrap(bom, "explode_bom", jobs=True)
    tracer.wrap(bom, "rollup_cost")
    tracer.wrap(pipeline.SinapiPipeline, "read", "sinapi_read.table")


def read_plan(rng: random.Random, months, n: int) -> list[tuple]:
    """n read ops cycling cost lookup, BOM cost and price history."""
    last = months[-1]
    ops = []
    for i in range(n):
        kind = READ_KINDS[i % 3]
        mo = rng.choice(months)
        if kind == "cost_lookup":
            code, uf, regime = rng.choice(mo.price_cells)
            ops.append((kind, code, uf, regime, mo.ref_date))
        elif kind == "bom_cost":
            uf = rng.choice(gen_sinapi.UFS)
            regime = rng.choice(gen_sinapi.REGIMES)[0]
            ops.append((kind, rng.choice(last.bom_roots), uf, regime, mo.ref_date))
        else:
            ops.append((kind, rng.choice(mo.price_cells)[0]))
    return ops


class Reader:
    """The three reads, built only from public engine calls."""

    def __init__(self, spark, warehouse: str, tracer):
        from autosinapi_spark.pipeline import SinapiPipeline

        year, month = gen_sinapi.MONTHS[-1]
        self.spark = spark
        self.pipe = SinapiPipeline(spark, warehouse, year, month)
        self.tracer = tracer

    def __call__(self, op: tuple) -> list[tuple]:
        from pyspark.sql import functions as F

        from autosinapi_spark.operators import bom

        kind = op[0]
        tr = self.tracer
        with tr.span("sinapi_read.build"):
            if kind == "cost_lookup":
                _, code, uf, regime, ref = op
                facts = self.pipe.read("precos_insumos_mensal").where(
                    (F.col("insumo_codigo") == code)
                    & (F.col("uf") == uf)
                    & (F.col("regime") == regime)
                    & (F.col("data_referencia") == F.lit(ref).cast("date"))
                )
                cat = self.pipe.read("insumos").select(
                    F.col("codigo").alias("insumo_codigo"), "descricao", "status"
                )
                df = facts.join(cat, "insumo_codigo").select(
                    "insumo_codigo", "uf", "regime", "data_referencia",
                    "preco_mediano", "descricao", "status",
                )
            elif kind == "bom_cost":
                _, root, uf, regime, ref = op
                edges = self.pipe.read("composicao_insumos").select(
                    F.col("composicao_pai_codigo").alias("parent"),
                    F.col("insumo_filho_codigo").alias("child"),
                    F.col("coeficiente").alias("coef"),
                ).unionByName(
                    self.pipe.read("composicao_subcomposicoes").select(
                        F.col("composicao_pai_codigo").alias("parent"),
                        F.col("composicao_filho_codigo").alias("child"),
                        F.col("coeficiente").alias("coef"),
                    )
                )
                roots = self.spark.range(1).select(F.lit(root).cast("long").alias("parent"))
                exploded = bom.explode_bom(edges, roots=roots)
                prices = self.pipe.read("precos_insumos_mensal").where(
                    (F.col("uf") == uf)
                    & (F.col("regime") == regime)
                    & (F.col("data_referencia") == F.lit(ref).cast("date"))
                ).select("insumo_codigo", "preco_mediano")
                df = bom.rollup_cost(exploded, prices, "insumo_codigo", "preco_mediano")
            else:
                _, code = op
                df = self.pipe.read("precos_insumos_mensal").where(
                    F.col("insumo_codigo") == code
                ).select("data_referencia", "uf", "regime", "preco_mediano")
        with tr.span("sinapi_read.action"):
            rows = [tuple(r) for r in df.collect()]
        if tr.enabled:
            tr.add("sinapi_read.planning_ms", planning_ms(df))
        return rows


def setup_extra():
    return None


def run(spark, inputs: dict, work: str, seed: int, seconds: float, tracer, _extra) -> dict:
    from autosinapi_spark import api

    months = inputs["months"]
    warehouse = os.path.join(work, "warehouse")
    failures: list[str] = []
    attempted = 0
    etl_walls, results = [], []
    for i, mo in enumerate(months):
        attempted += 1
        op_id = f"etl.{i}"
        t0 = time.perf_counter()
        with tracer.op(op_id, "op.etl"), tracer.span("pipeline.run_etl"):
            res = api.run_etl(
                storage_config={"warehouse": warehouse},
                sinapi_config={"year": mo.year, "month": mo.month},
                inputs=mo.inputs,
                spark=spark,
            )
        etl_walls.append(time.perf_counter() - t0)
        results.append(res)
        if tracer.enabled:
            st = tracer.stage_totals(op_id)
            m = "cold" if i == 0 else "warm"
            tracer.add(f"pipeline.run_etl.{m}.s", etl_walls[-1])
            tracer.add(f"pipeline.run_etl.{m}.jobs", len(tracer.jobs(op_id)))
            tracer.add(f"pipeline.run_etl.{m}.executor_run_s", st["executor_run_s"])
            tracer.add(f"pipeline.run_etl.{m}.bytes_written", st["output_bytes"])
            tracer.add("pipeline.bytes_written", st["output_bytes"])
        if res.get("status") != "SUCESSO":
            failures.append(f"run_etl {mo.year}-{mo.month:02d}: {res.get('message')}")

    # closed loop, one client: the next read starts when the last ends
    reader = Reader(spark, warehouse, tracer)
    rng = random.Random(seed * 7919 + 1)
    plan = read_plan(rng, months, MIN_READS)
    read_ms, read_out = [], []
    t_reads = time.perf_counter()
    i = 0
    while i < MIN_READS or time.perf_counter() - t_reads < seconds:
        if i == len(plan):
            plan += read_plan(rng, months, MIN_READS)
        op = plan[i]
        attempted += 1
        op_id = f"read.{i}"
        t0 = time.perf_counter()
        try:
            with tracer.op(op_id, f"op.read.{op[0]}"):
                rows = reader(op)
        except Exception as exc:  # a failed read counts as a miss
            rows = None
            failures.append(f"read {op}: {type(exc).__name__}: {exc}")
        read_ms.append((time.perf_counter() - t0) * 1000.0)
        read_out.append((op, rows))
        if tracer.enabled:
            tracer.add("sinapi_read.jobs", len(tracer.jobs(op_id)))
        i += 1
    reads_wall = time.perf_counter() - t_reads

    checks = check(months, results, read_out, warehouse, tracer)
    failures += checks["failures"]
    rows_inserted = sum(sum(r.get("records_inserted", {}).values()) for r in results)
    wh_bytes = parquet_bytes(warehouse)
    tail = tail_percentile(read_ms)
    n_reads = len(read_ms)
    report = {
        "etl_rows_per_s": (rows_inserted / sum(etl_walls), "1/s"),
        "read_p50_ms": (median(read_ms), "ms"),
        "read_tail_ms": ({"percentile": tail[0], "value": tail[1]}, "ms"),
        "warehouse_bytes_per_input_byte": (wh_bytes / inputs["input_bytes"], "ratio"),
        "etl_s": (sum(etl_walls), "s"),
        "etl_month_s": ([round(w, 4) for w in etl_walls], "s"),
        "reads": (n_reads, "count"),
        "rows_inserted": (rows_inserted, "count"),
    }
    if tracer.enabled:
        tracer.add("warehouse_bytes_per_input_byte", wh_bytes / inputs["input_bytes"])
        tracer.add("pipeline.write_amplification", tracer.counts["pipeline.bytes_written"] / wh_bytes)
        tracer.add("sinapi_read.ops", n_reads)
    return {
        "bulk_items_per_s": rows_inserted / sum(etl_walls),
        "incremental_items_per_s": n_reads / reads_wall,
        "op_p50_ms": median(read_ms),
        "timed_wall_s": sum(etl_walls) + sum(read_ms) / 1000.0,
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures,
        "correct": checks["correct"],
        "report": report,
        "checks": checks["summary"],
    }


# -- output checks (outside every timed region) ----------------------------

def check(months, results, read_out, warehouse: str, tracer) -> dict:
    import duckdb

    failures, summary = [], {}
    correct = True
    for mo, res in zip(months, results):
        got = {t: res.get("records_inserted", {}).get(t) for t in ETL_TABLES}
        ok = res.get("status") == "SUCESSO" and got == mo.expected_inserted
        summary[f"etl_{mo.year}_{mo.month:02d}"] = "ok" if ok else f"got {got}"
        if not ok:
            correct = False
            failures.append(
                f"records_inserted {mo.year}-{mo.month:02d}: got {got}, "
                f"expected {mo.expected_inserted}"
            )

    con = duckdb.connect()
    try:
        for t in ("precos_insumos_mensal", "insumos", "composicao_insumos",
                  "composicao_subcomposicoes"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(warehouse, t)}/*.parquet')"
            )
        bad = 0
        levels = []
        for op, rows in read_out:
            if rows is None:
                continue
            want = _oracle(con, op)
            if op[0] == "bom_cost":
                levels.append(con.execute(_BOM_DEPTH, [op[1]]).fetchone()[0] or 0)
            if not _same(op[0], rows, want):
                bad += 1
                if bad <= 3:
                    failures.append(f"read {op}: got {rows[:3]} expected {want[:3]}")
        summary["reads_checked"] = len(read_out)
        summary["reads_mismatched"] = bad
        if bad:
            correct = False
        if tracer.enabled and levels:
            tracer.add("operators.bom.explode_bom.levels", sum(levels) / len(levels))
    finally:
        con.close()
    return {"correct": correct, "failures": failures, "summary": summary}


_EDGES = """
  SELECT composicao_pai_codigo AS parent, insumo_filho_codigo AS child,
         coeficiente AS coef FROM composicao_insumos
  UNION ALL
  SELECT composicao_pai_codigo, composicao_filho_codigo, coeficiente
  FROM composicao_subcomposicoes
"""
_EXPL = f"""
  WITH RECURSIVE edges AS ({_EDGES}),
  expl AS (
    SELECT parent AS root, child, coef AS total_coef, 1 AS depth
    FROM edges WHERE parent = $1
    UNION ALL
    SELECT e.root, g.child, e.total_coef * g.coef, e.depth + 1
    FROM expl e JOIN edges g ON g.parent = e.child
  )
"""
_BOM_DEPTH = _EXPL.replace("$1", "?") + "SELECT max(depth) FROM expl"


def _oracle(con, op: tuple) -> list[tuple]:
    kind = op[0]
    if kind == "cost_lookup":
        _, code, uf, regime, ref = op
        return con.execute(
            """SELECT p.insumo_codigo, p.uf, p.regime, p.data_referencia,
                      p.preco_mediano, c.descricao, c.status
               FROM precos_insumos_mensal p
               JOIN insumos c ON c.codigo = p.insumo_codigo
               WHERE p.insumo_codigo = ? AND p.uf = ? AND p.regime = ?
                 AND p.data_referencia = CAST(? AS DATE)""",
            [code, uf, regime, ref],
        ).fetchall()
    if kind == "bom_cost":
        _, root, uf, regime, ref = op
        return con.execute(
            _EXPL
            + """SELECT e.root,
                   ROUND(CAST(SUM(CAST(e.total_coef * CAST(p.preco_mediano AS DOUBLE)
                                       AS DECIMAL(28,10))) AS DOUBLE), 6),
                   COUNT(*)
                 FROM expl e JOIN precos_insumos_mensal p
                   ON e.child = p.insumo_codigo
                 WHERE p.uf = $2 AND p.regime = $3
                   AND p.data_referencia = CAST($4 AS DATE)
                 GROUP BY e.root""",
            [root, uf, regime, ref],
        ).fetchall()
    _, code = op
    return con.execute(
        """SELECT data_referencia, uf, regime, preco_mediano
           FROM precos_insumos_mensal WHERE insumo_codigo = ?""",
        [code],
    ).fetchall()


def _same(kind: str, got: list[tuple], want: list[tuple]) -> bool:
    """Multiset equality; BOM costs agree to the 1e-6 they are rounded
    to (the two engines cast double to decimal differently in the last
    of the 10 exact digits, which can flip a 6th-decimal rounding)."""
    def key(r):
        return tuple(str(x) for x in r)

    g, w = sorted(got, key=key), sorted(want, key=key)
    if len(g) != len(w):
        return False
    for a, b in zip(g, w):
        if kind == "bom_cost":
            if a[0] != b[0] or a[2] != b[2] or abs(a[1] - b[1]) > 1.5e-6:
                return False
        elif a != b:
            return False
    return True
