"""Schema-Mapping execution engine (SURVEY §3.3 stages 2, 6–8).

Reproduces the reference's twin-namespace evaluation on Spark SQL:

* source tables live as ``source_{t}`` temp views (S8 ATTACH analogue; each
  run's views carry its private prefix and are dropped when it returns);
* gold SQL populates ``gold_{t}`` views, predicted SQL ``pred_{t}``;
* ``INSERT INTO t SELECT ...`` (illegal on Spark views) is rewritten to an
  accumulated ``CREATE OR REPLACE TEMP VIEW ns_t AS prior UNION ALL SELECT``
  (SURVEY §4 "dialect translation");
* every predicted statement runs under the 30 s job-group timeout with the
  reference's sentinel semantics on the overlap side.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..operators.overlap import OverlapCounts, table_overlap, timed_table_overlap
from ..plans.sql_ast import qualify_sql
from ..plans.sql_rewrite import (
    Statement,
    insert_query,
    prepare_response,
    referenced_tables,
    rewrite_map_pk,
)
from ..plans.timeout import DEFAULT_TIMEOUT_S, OK, run_with_timeout
from ..scratch import private_name


@dataclass
class MappingScenario:
    """One mapping task: source tables (DataFrames), target table schemas
    (DDL column lists), gold SQL script, and the meaningful columns used by
    the overlap evaluation."""

    source_tables: dict[str, DataFrame]
    target_tables: dict[str, str]  # table -> "col type, col type" DDL body
    gold_sql: str
    meaningful_cols: dict[str, list[str]]
    join_overlap_sql: str | None = None  # multi-table rules (J6)


@dataclass
class MappingResult:
    counts: list[OverlapCounts]
    statement_log: list[Statement] = field(default_factory=list)


class MappingEngine:
    def __init__(self, spark: SparkSession, scenario: MappingScenario):
        self.spark = spark
        self.sc = scenario
        self._acc: dict[tuple[str, str], DataFrame] = {}

    def _register(self, df: DataFrame, name: str) -> None:
        """Register ``df`` as ``name`` under this run's private prefix: temp
        views are session-wide, so ``evaluate`` drops them all on return."""
        view = f"{self._vp}{name}"
        df.createOrReplaceTempView(view)
        self._views.add(view)

    def _reset_targets(self, ns: str) -> None:
        """Empty every target table (the reference's reset+reimport,
        DatabaseManager.py:133-143 — free here because plans are lazy).
        Accumulation goes through DataFrame lineage, not view
        self-reference (Spark rejects recursive temp views)."""
        for t, ddl in self.sc.target_tables.items():
            cols = ", ".join(
                f"CAST(NULL AS {c.strip().rsplit(' ', 1)[1]}) AS {c.strip().rsplit(' ', 1)[0]}"
                for c in ddl.split(",")
            )
            empty = self.spark.sql(f"SELECT {cols} WHERE 1=0")
            self._acc[(ns, t)] = empty
            self._register(empty, f"{ns}_{t}")

    def _apply_insert(self, ns: str, table: str, select_sql: str) -> None:
        """Accumulate an INSERT into the namespace table: positional INSERT
        semantics — rename the SELECT's columns to the target's and union by
        position (DataFrame lineage captures the prior state by value)."""
        prior = self._acc[(ns, table)]
        new = self.spark.sql(select_sql)
        if len(new.columns) != len(prior.columns):
            raise ValueError(
                f"INSERT arity mismatch for {table}: {len(new.columns)} vs {len(prior.columns)}"
            )
        aligned = new.toDF(*prior.columns)
        for c, dt in prior.dtypes:
            aligned = aligned.withColumn(c, aligned[c].cast(dt))
        updated = prior.unionByName(aligned)
        self._acc[(ns, table)] = updated
        self._register(updated, f"{ns}_{table}")

    def _run_script(self, sql_script: str, ns: str, timeout_s: float) -> list[Statement]:
        """Admission → qualification → execution of one script into ``ns``."""
        vp = self._vp
        stmts = prepare_response(
            sql_script, set(self.sc.source_tables), set(self.sc.target_tables),
            source_ns=f"{vp}source", target_ns=f"{vp}{ns}",
        )
        for s in stmts:
            if not s.admitted:
                continue
            # U3: map_pk(tbl, attr, val) -> scalar subquery against a
            # rank-by-value dimension registered on demand
            s.sql, pk_refs = rewrite_map_pk(s.sql)
            for tbl, attr in pk_refs:
                self._register_map_pk_dim(tbl, attr)
            s.sql = qualify_sql(
                s.sql, {f"__mappk_{t}_{a}": f"{vp}__mappk_{t}_{a}" for t, a in pk_refs}
            )
            if s.kind == "INSERT" and s.target_table:
                bare = s.target_table.split(".")[-1].removeprefix(f"{vp}{ns}_")
                select_sql = insert_query(s.sql)
                res = run_with_timeout(
                    self.spark,
                    lambda sel=select_sql, b=bare: self._apply_insert(ns, b, sel),
                    timeout_s,
                )
            else:
                res = run_with_timeout(
                    self.spark, lambda q=s.sql: self.spark.sql(q).collect(), timeout_s
                )
            if res.status != OK:
                s.ignore_reason = f"{res.status}: {res.error or ''}".strip()[:200]
        return stmts

    def _register_map_pk_dim(self, tbl: str, attr: str) -> None:
        """Register this run's ``__mappk_{tbl}_{attr}`` = (pk_val, pk_id): dense
        rank-by-value over the source table's distinct attr values — the
        engine's declared map_pk contract (operators/surrogate.py)."""
        from pyspark.sql import functions as F

        from ..operators.surrogate import map_pk_dim

        if tbl not in self.sc.source_tables:
            raise ValueError(f"map_pk references unknown source table {tbl!r}")
        dim = map_pk_dim(self.sc.source_tables[tbl], attr).select(
            F.col(attr).alias("pk_val"), "pk_id"
        )
        self._register(dim, f"__mappk_{tbl}_{attr}")

    def _overlap(
        self,
        gold: DataFrame,
        pred: DataFrame,
        cols: list[str],
        table: str,
        timeouts: dict[str, float] | float | None,
    ) -> OverlapCounts:
        """J5 overlap of one table (``"__join__"``: the join overlap) under
        its timeout sentinel, if ``timeouts`` sets one for it."""
        t = timeouts.get(table) if isinstance(timeouts, dict) else timeouts
        if t is None:
            return table_overlap(gold, pred, cols, table)
        return timed_table_overlap(self.spark, gold, pred, cols, table, timeout_s=t)

    def evaluate(
        self,
        predicted_sql: str,
        timeout_s: float = DEFAULT_TIMEOUT_S,
        overlap_timeout_s: dict[str, float] | float | None = None,
        reference_skips: bool = False,
    ) -> MappingResult:
        """Run gold and predicted scripts into twin namespaces, then the
        EXCEPT/INTERSECT overlap per target table (J5).

        ``overlap_timeout_s``: apply the reference's overlap-level timeout
        sentinel (``Evaluator.py:141-151``: FN = |gold|, FP = ∞) — a float
        for every table (the reference's single 30 s knob) or a per-table
        dict (the join overlap keyed ``"__join__"``) so a test scenario's
        runaway table doesn't tax the healthy tables' wall time.
        ``reference_skips`` additionally mirrors
        ``Evaluator.py:199-216``: tables with no meaningful columns are
        never evaluated, and tables where gold and predicted are both
        empty (tp+fp+fn == 0) drop out of the report."""
        self._vp, self._views = private_name("sdi_map") + "_", set()
        try:
            for name, df in self.sc.source_tables.items():
                self._register(df, f"source_{name}")
            self._reset_targets("gold")
            self._reset_targets("pred")
            log = []
            log += self._run_script(self.sc.gold_sql, "gold", timeout_s)
            log += self._run_script(predicted_sql, "pred", timeout_s)
            # tables the join overlap reads are evaluated TWICE (their own
            # table overlap + the join) — persist exactly those, both
            # namespaces, so the insert lineage runs once per namespace (the
            # reference materializes targets eagerly into the DB; this is the
            # lazy engine's equivalent for the re-read case only)
            persisted = []
            if self.sc.join_overlap_sql:
                for t in referenced_tables(self.sc.join_overlap_sql, self.sc.target_tables):
                    for ns in ("gold", "pred"):
                        df = self._acc[(ns, t)].persist()
                        self._acc[(ns, t)] = df
                        self._register(df, f"{ns}_{t}")
                        persisted.append(df)
            counts = []
            for t in sorted(self.sc.target_tables):
                cols = self.sc.meaningful_cols[t]
                if reference_skips and not cols:
                    continue
                c = self._overlap(
                    self.spark.table(f"{self._vp}gold_{t}"),
                    self.spark.table(f"{self._vp}pred_{t}"),
                    cols, t, overlap_timeout_s,
                )
                if reference_skips and c.tp + c.fp + c.fn == 0:
                    continue
                counts.append(c)
            if self.sc.join_overlap_sql:
                gold_join, pred_join = (
                    self.spark.sql(
                        qualify_sql(
                            self.sc.join_overlap_sql,
                            {t: f"{self._vp}{ns}_{t}" for t in self.sc.target_tables},
                        )
                    )
                    for ns in ("gold", "pred")
                )
                counts.append(
                    self._overlap(
                        gold_join, pred_join, gold_join.columns, "__join__", overlap_timeout_s
                    )
                )
            for df in persisted:
                df.unpersist()
            return MappingResult(counts=counts, statement_log=log)
        finally:
            for view in self._views:
                self.spark.catalog.dropTempView(view)
