"""The benchmark's workloads: what one op is, the seeded op sequence,
set-up, and the output checks (all run outside the timed region).

Both workloads are closed loops driven by one client: the next op is
sent when the previous one returns.
"""

from __future__ import annotations

import os
import random
import sys
import time
from dataclasses import dataclass
from datetime import date, timedelta
from typing import Callable

import datagen

# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------

# A fixed stratified sample: every catalog family except streaming,
# whose queries stage their input under a fixed directory outside the
# run's own tree. The set is fixed so that op_p50_s does not depend on
# which queries a seed happens to draw; the seed orders each cycle and
# generates the data.
CATALOG_QUERIES = {
    "sql": ["pricing_summary"],
    "window_time": ["session_conversion_rate", "windowed_daily_events"],
    "dedup": ["dedup_simhash"],
    "similarity": ["similarity_cosine_topk"],
    "text": ["text_doc_top_terms"],
    "curation": ["curation_pack_sequences"],
    "sketches": ["sketch_hll_users"],
    "multimodal": ["multimodal_image_features"],
}

# Scale factor of the generated tables. The catalog's benchmark data is
# sf0.1; at sf0.01 a run, with its set-up, untimed passes and output
# checks, fits the run budget (README.md, "Scale").
CATALOG_SF = 0.01


@dataclass(frozen=True)
class Op:
    key: str  # what an output check failure is charged to
    kind: str
    day: int = 0  # task workload: index of the window's last source day


def _cycles(seed: int, kinds: list[str], n_ops: int, day0: int = 0):
    """``n_ops`` ops: cycles over ``kinds``, each cycle in its own seeded
    order; cycle c has window day ``day0 + c``."""
    rng = random.Random(seed)
    ops: list[tuple[str, int]] = []
    cycle = 0
    while len(ops) < n_ops:
        order = list(kinds)
        rng.shuffle(order)
        ops.extend((kind, day0 + cycle) for kind in order)
        cycle += 1
    return ops[:n_ops]


class CatalogWorkload:
    name = "catalog"

    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.run_dir = run_dir
        self.sf_dir = ""
        self.names = [q for qs in CATALOG_QUERIES.values() for q in qs]
        self.cycle_len = len(self.names)

    def op_sequence(self, n_ops: int) -> list[Op]:
        return [Op(k, k) for k, _ in _cycles(self.seed, self.names, n_ops)]

    def setup(self, spark, rep: int) -> None:
        """Generate the source tables (the catalog registers its views
        lazily, inside each query's build)."""
        self.sf_dir = os.path.join(self.run_dir, f"data{rep}")
        datagen.write_tables(
            datagen.catalog_tables(self.seed, CATALOG_SF), self.sf_dir)

    def prepare(self, spark) -> tuple[dict[str, bool], float]:
        """Run each query once through the timed path (build, then the
        noop write), so no timed op pays a first-run cost, and return
        the seconds that took. Outside that timing, each query's
        collected result is then compared with its DuckDB oracle through
        the catalog's canon: one check per query."""
        from transformers_spark import cache
        from transformers_spark.canon import duckdb_connect_views, normalize_rows
        from transformers_spark.queries import QUERIES, oracle_for

        con = duckdb_connect_views(self.sf_dir)
        self.ok: dict[str, bool] = {}
        first_run_s = 0.0
        for name in self.names:
            try:
                t = time.perf_counter()
                sdf = QUERIES[name].build(spark, self.sf_dir)
                sdf.write.format("noop").mode("overwrite").save()
                first_run_s += time.perf_counter() - t
                cols = [c.lower() for c in sdf.columns]
                rows = [tuple(r) for r in sdf.collect()]
                cache.release()
                res = con.execute(oracle_for(name, self.sf_dir))
                dcols = [d[0].lower() for d in res.description]
                self.ok[name] = sorted(cols) == sorted(dcols) and normalize_rows(
                    rows, cols
                ) == normalize_rows(res.fetchall(), dcols)
            except Exception as err:  # noqa: BLE001 — a failed check is reported
                print(f"check {name}: {err!r}"[:500], file=sys.stderr)
                self.ok[name] = False
        con.close()
        return self.ok, first_run_s

    def runner(self, spark, tracer=None) -> Callable[[Op], None]:
        from transformers_spark import cache
        from transformers_spark.queries import QUERIES

        def run(op: Op) -> None:
            spec = QUERIES[op.kind]
            span = tracer.open("queries.build", "queries") if tracer else None
            try:
                df = spec.build(spark, self.sf_dir)
            finally:
                if tracer:
                    tracer.close(span)
            df.write.format("noop").mode("overwrite").save()
            cache.release()

        return run

    def verify(self, spark, ops: list[Op]) -> set[str]:
        return {name for name, good in self.ok.items() if not good}

    def warm_ops(self) -> list[Op]:
        return []  # prepare() runs every query once before timing


# ---------------------------------------------------------------------------
# tasks: a scheduled backfill, every load method per window
# ---------------------------------------------------------------------------

PROJECT = "g-project"
AGG_COLS = [
    ("ship_date", "date"),
    ("l_returnflag", "string"),
    ("n_lines", "bigint"),
    ("revenue", "double"),
]
ACC_COLS = AGG_COLS + [("revision", "bigint")]

# kind -> (load method, destination, partitioned, window days ending at
# the window's last day, statement form)
TASK_KINDS = {
    "append": ("APPEND", "rev_append", False, 1, "select"),
    "replace_day": ("REPLACE", "rev_daily", True, 1, "select"),
    "replace_fanout": ("REPLACE", "rev_fanout", True, 3, "template"),
    "replace_all": ("REPLACE_ALL", "rev_window", False, 3, "select"),
    "replace_merge_auto": ("REPLACE_MERGE", "rev_auto", True, 2, "select"),
    "replace_merge_filter": ("REPLACE_MERGE", "rev_filtered", True, 2, "select"),
    "merge_whole": ("MERGE", "acc_whole", False, 2, "merge"),
    "merge_part": ("MERGE", "acc_part", True, 2, "merge"),
    "update_whole": ("MERGE", "acc_whole", False, 1, "update"),
    "delete_part": ("MERGE", "acc_part", True, 1, "delete"),
    "delete_whole": ("MERGE", "acc_whole", False, 1, "delete"),
}
FIRST_DAY = 2  # leaves room for the 3-day windows
# the kinds whose first run in a process costs most (up to twice a warm
# run), run once before timing; set-up time includes them
WARM_KINDS = ["merge_part", "delete_part", "replace_merge_filter"]

_AGG_SQL = """SELECT DATE(l_shipdate) AS ship_date, l_returnflag, COUNT(1) AS n_lines,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM `{src}`
WHERE l_shipdate >= {lo} AND l_shipdate < {hi}
GROUP BY 1, 2"""

_MERGE_SQL = """MERGE `{dest}` T
USING ({agg}) S
ON T.ship_date = S.ship_date AND T.l_returnflag = S.l_returnflag
WHEN MATCHED THEN UPDATE SET n_lines = S.n_lines, revenue = S.revenue,
  revision = T.revision + 1
WHEN NOT MATCHED THEN INSERT (ship_date, l_returnflag, n_lines, revenue, revision)
  VALUES (S.ship_date, S.l_returnflag, S.n_lines, S.revenue, 1)"""


def _day(i: int) -> date:
    return datagen.source_day(i).date()


class TasksWorkload:
    name = "tasks"

    def __init__(self, seed: int, run_dir: str,
                 source_days: int = datagen.SOURCE_DAYS):
        self.seed = seed
        self.run_dir = run_dir
        self.source_days = source_days
        self.dataset = ""
        self.xcom = os.path.join(run_dir, "xcom", "return.json")
        # consecutive windows; wrap so a long run stays inside the source
        self.day0 = FIRST_DAY + seed % 5
        self.cycle_len = len(TASK_KINDS)

    def op_sequence(self, n_ops: int) -> list[Op]:
        span = self.source_days - FIRST_DAY
        return [
            Op(TASK_KINDS[k][1], k, FIRST_DAY + (d - FIRST_DAY) % span)
            for k, d in _cycles(self.seed, list(TASK_KINDS), n_ops, self.day0)
        ]

    def fqn(self, table: str, dataset: str | None = None) -> str:
        return f"{PROJECT}.{dataset or self.dataset}.{table}"

    def setup(self, spark, rep: int) -> None:
        """Load the generated source into a ``dt``-partitioned table and
        create every destination, in a fresh dataset per repetition."""
        from transformers_spark.catalog import Catalog, PartitionKind, PartitionSpec

        self.dataset = f"perfbench_r{rep}"
        self.source = datagen.task_source(self.seed, self.source_days)
        cat = Catalog(spark)
        src = self.fqn("lineitem_src")
        cat.create_table(
            src,
            [
                ("l_orderkey", "bigint"),
                ("l_quantity", "double"),
                ("l_extendedprice", "double"),
                ("l_discount", "double"),
                ("l_returnflag", "string"),
                ("l_shipdate", "timestamp"),
            ],
            PartitionSpec(kind=PartitionKind.COLUMN_DAY, field="l_shipdate"),
        )
        spark.createDataFrame(self.source).selectExpr(
            "*", "CAST(l_shipdate AS DATE) AS dt"
        ).write.insertInto(cat.spark_name(src))
        for _, dest, partitioned, _, _ in TASK_KINDS.values():
            part = (
                PartitionSpec(kind=PartitionKind.COLUMN_DAY, field="ship_date")
                if partitioned
                else PartitionSpec()
            )
            cols = ACC_COLS if dest.startswith("acc_") else AGG_COLS
            cat.create_table(self.fqn(dest), cols, part)

    def warm_ops(self) -> list[Op]:
        """Untimed ops on the run's own destinations, before timing; the
        output check replays them too."""
        return [Op(TASK_KINDS[k][1], k, FIRST_DAY) for k in WARM_KINDS]

    def prepare(self, spark) -> tuple[dict[str, bool], float]:
        """Run the warm-up ops; returns no checks (``verify`` replays
        them) and the seconds they took."""
        run = self.runner(spark)
        t = time.perf_counter()
        for op in self.warm_ops():
            run(op)
        return {}, time.perf_counter() - t

    def _task(self, op: Op, dataset: str):
        from transformers_spark.config import LoadMethod, TaskConfig
        from transformers_spark.engine import compile_assets

        method, dest, _, days, form = TASK_KINDS[op.kind]
        lm = LoadMethod[method]
        end = datagen.source_day(op.day + 1)
        start = end - timedelta(days=days)
        src = self.fqn("lineitem_src", dataset)
        cfg = dict(
            destination_project=PROJECT,
            destination_dataset=dataset,
            destination_table_name=dest,
            load_method=lm,
            labels={"pipeline": "perfbench"},
        )
        macro_agg = _AGG_SQL.format(src=src, lo="'__dstart__'", hi="'__dend__'")
        if form == "select":
            sql = macro_agg
        elif form == "template":
            tmpl = _AGG_SQL.format(src=src, lo="'{{ .DSTART }}'", hi="'{{ .DEND }}'")
            sql = compile_assets(tmpl, start, end, lm)
        elif form == "merge":
            sql = _MERGE_SQL.format(dest=self.fqn(dest, dataset), agg=macro_agg)
        elif form == "update":
            sql = (
                "UPDATE `__destination_table__` SET revision = revision + 10 "
                f"WHERE ship_date = DATE'{_day(op.day)}' AND l_returnflag = 'R'"
            )
        else:
            sql = (
                "DELETE FROM `__destination_table__` "
                f"WHERE ship_date = DATE'{_day(op.day - 1)}' AND l_returnflag = 'A'"
            )
        if op.kind == "replace_merge_filter":
            cfg["filter_expression"] = (
                "ship_date >= date('__dstart__') AND ship_date < date('__dend__')"
            )
        return TaskConfig(**cfg), sql, start, end

    def runner(self, spark, tracer=None):
        from transformers_spark.runner import run_task

        def run(op: Op) -> None:
            cfg, sql, start, end = self._task(op, self.dataset)
            run_task(spark, cfg, sql, start, end, end, xcom_path=self.xcom)

        return run

    # -- output check: replay the op sequence without Spark --------------

    def _daily(self) -> dict[date, list[tuple]]:
        """Per-day aggregate of the generated source, computed in DuckDB;
        revenue stays an exact decimal until a row is emitted."""
        import duckdb

        con = duckdb.connect()
        con.register("src", self.source)
        rows = con.execute(
            "SELECT CAST(l_shipdate AS DATE), l_returnflag, COUNT(*), "
            "SUM(CAST(l_extendedprice AS DECIMAL(12,2))) "
            "FROM src GROUP BY 1, 2"
        ).fetchall()
        con.close()
        out: dict[date, list[tuple]] = {}
        for row in rows:
            out.setdefault(row[0], []).append(tuple(row))
        return out

    def expected(self, ops: list[Op]) -> dict[str, list[tuple]]:
        """Each destination's final rows after ``ops``, in order."""
        daily = self._daily()

        def window(op: Op) -> list[tuple]:
            days = TASK_KINDS[op.kind][3]
            return [(d, f, n, float(rev)) for i in range(op.day - days + 1, op.day + 1)
                    for d, f, n, rev in daily.get(_day(i), [])]

        parts: dict[str, dict[date, list[tuple]]] = {}
        flat: dict[str, list[tuple]] = {}
        acc: dict[str, dict[tuple, list]] = {}
        for op in ops:
            dest = TASK_KINDS[op.kind][1]
            rows = window(op)
            if op.kind == "append":
                flat.setdefault(dest, []).extend(rows)
            elif op.kind == "replace_all":
                flat[dest] = list(rows)
            elif op.kind in ("replace_day", "replace_fanout",
                             "replace_merge_auto", "replace_merge_filter"):
                table = parts.setdefault(dest, {})
                days = TASK_KINDS[op.kind][3]
                for i in range(op.day - days + 1, op.day + 1):
                    table.pop(_day(i), None)
                for r in rows:
                    table.setdefault(r[0], []).append(r)
            elif op.kind in ("merge_whole", "merge_part"):
                table = acc.setdefault(dest, {})
                for d, flag, n, rev in rows:
                    old = table.get((d, flag))
                    table[(d, flag)] = [d, flag, n, rev, old[4] + 1 if old else 1]
            elif op.kind == "update_whole":
                row = acc.setdefault(dest, {}).get((_day(op.day), "R"))
                if row:
                    row[4] += 10
            elif op.kind in ("delete_part", "delete_whole"):
                acc.setdefault(dest, {}).pop((_day(op.day - 1), "A"), None)
        out = {d: rs for d, rs in flat.items()}
        out.update({d: [r for rs in t.values() for r in rs] for d, t in parts.items()})
        out.update({d: [tuple(r) for r in t.values()] for d, t in acc.items()})
        return out

    def verify(self, spark, ops: list[Op]) -> set[str]:
        """Destinations whose final state differs from the replay."""
        from transformers_spark.canon import normalize_rows
        from transformers_spark.catalog import Catalog

        expected = self.expected(ops)
        cat = Catalog(spark)
        bad = set()
        for dest in sorted({op.key for op in ops}):
            cols = [c for c, _ in (ACC_COLS if dest.startswith("acc_") else AGG_COLS)]
            got = [tuple(r) for r in cat.read(self.fqn(dest)).select(*cols).collect()]
            if normalize_rows(got, cols) != normalize_rows(expected.get(dest, []), cols):
                bad.add(dest)
        return bad


WORKLOADS = {w.name: w for w in (CatalogWorkload, TasksWorkload)}
