"""Ingest & distributed-write paths.

Reference mapping (SURVEY.md §2.1, §2.8, §3.3):

- ``write_distributed`` / bucketed tables ↔ hash sharding
  (shardinterval_utils.c:415 uniform hash ranges). A bucketed
  saveAsTable persists HashPartitioning in the catalog, so later
  dist-col joins/aggregations satisfy EnsureRequirements with no
  Exchange — exactly the reference's co-located pushdown join
  (LOCAL_PARTITION_JOIN, multi_join_order.h:34).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from citus_spark.catalog import DEFAULT_SHARD_COUNT


def write_distributed(
    df: DataFrame,
    name: str,
    dist_col: str,
    buckets: int = DEFAULT_SHARD_COUNT,
    sort_by: str | None = None,
) -> None:
    """Persist `df` as a bucketed table so the distribution survives in
    the Spark catalog: subsequent equi-joins and groupBys on
    `dist_col` between tables bucketed with the same count read
    pre-partitioned data and skip the Exchange — the engine's
    colocation contract."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # a crashed previous run can leave an orphaned managed location
    # that blocks re-creation — clear it
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path
    loc = os.path.join(wh, name.lower())
    if os.path.exists(loc):
        shutil.rmtree(loc)
    writer = df.write.mode("overwrite").bucketBy(buckets, dist_col)
    writer = writer.sortBy(sort_by or dist_col)
    writer.format("parquet").saveAsTable(name)


def merge_into(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: list[str],
    when_matched: str = "update",  # "update" | "delete" | "ignore"
    insert_unmatched: bool = True,
) -> None:
    """MERGE INTO target USING source ON keys — without a Delta
    dependency (↔ reference merge_planner.c:115 CreateMergePlan; its
    three data-movement strategies collapse into the one join below,
    whose shuffle Catalyst plans only when the sides aren't
    co-partitioned).

    Semantics: whole-row upsert. `when_matched="update"` replaces
    matched target rows with source rows; "delete" drops them;
    "ignore" keeps the target rows. Unmatched source rows are inserted
    when `insert_unmatched`. The rewrite is atomic at the directory
    level (write temp, then overwrite target).
    """
    target = spark.read.parquet(target_path)
    kept = target.join(source.select(*keys), keys, "left_anti")
    parts = [kept]
    if when_matched == "update":
        parts.append(source.join(target.select(*keys), keys, "left_semi"))
    elif when_matched == "ignore":
        parts.append(target.join(source.select(*keys), keys, "left_semi"))
    elif when_matched != "delete":
        raise ValueError(f"unknown when_matched: {when_matched!r}")
    if insert_unmatched:
        parts.append(source.join(target.select(*keys), keys, "left_anti"))
    result = parts[0]
    for p in parts[1:]:
        result = result.unionByName(p)
    tmp = target_path + ".merge_tmp"
    result.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(target_path)
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


def merge_apply(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    when_matched: str = "update",
    assignments: list[tuple[str, str]] | None = None,
    matched_condition: str | None = None,
    insert_unmatched: bool = True,
    insert_cols: list[str] | None = None,
    insert_values: list[str] | None = None,
    with_actions: bool = False,
    column_defaults: dict[str, str] | None = None,
) -> DataFrame:
    """Single-branch MERGE convenience form: one WHEN MATCHED action
    (`SET col = expr` lists, an optional AND guard, whole-row `SET *`
    when assignments are empty) plus an optional unguarded INSERT.
    Delegates to :func:`merge_apply_multi` — the single-branch
    statement IS the one-element branch list, so the semantics,
    validation, and RETURNING contract live in exactly one executor."""
    if when_matched in ("update", "delete"):
        matched = [(matched_condition, when_matched, list(assignments or []))]
    elif when_matched == "ignore":
        # matched rows pass through untouched (a guard is irrelevant)
        matched = []
    else:
        raise ValueError(f"unknown when_matched: {when_matched!r}")
    not_matched = (
        [(None, list(insert_cols or []), list(insert_values or []))]
        if insert_unmatched
        else []
    )
    return merge_apply_multi(
        target,
        source,
        keys,
        matched_branches=matched,
        not_matched_branches=not_matched,
        with_actions=with_actions,
        column_defaults=column_defaults,
    )


def merge_apply_multi(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    matched_branches: list[tuple[str | None, str, list[tuple[str, str]]]] = (),
    not_matched_branches: list[tuple[str | None, list[str], list[str]]] = (),
    by_source_branches: list[tuple[str | None, str, list[tuple[str, str]]]] = (),
    with_actions: bool = False,
    column_defaults: dict[str, str] | None = None,
    generated_columns: set[str] | frozenset[str] | None = None,
) -> DataFrame:
    """Full PG MERGE branch semantics (↔ reference merge_planner.c —
    Citus inherits PostgreSQL's complete WHEN grammar):

    - ``matched_branches``: ordered ``(cond, action, assignments)``
      where ``action`` ∈ {"update", "delete", "nothing"}; empty
      assignments with "update" = whole-row replacement by the source
      row. Conditions reference both sides as ``t.`` / ``s.``.
    - ``not_matched_branches`` (BY TARGET): ordered
      ``(cond, insert_cols, insert_values)``; empty cols = INSERT *;
      ``insert_cols is None`` marks DO NOTHING. Conditions reference
      ``s.`` only.
    - ``by_source_branches`` (PG 17 WHEN NOT MATCHED BY SOURCE):
      ordered ``(cond, action, assignments)`` with action
      "update"/"delete"/"nothing" over target rows that have no
      source match. Expressions reference ``t.`` only.

    Branches evaluate in statement order; the FIRST branch whose
    condition is true (NULL = not true, SQL 3-valued logic) wins —
    encoded as one ``CASE WHEN`` chain per row class, so each class
    is ONE join + ONE projection regardless of branch count (no
    per-branch re-scan of the join). Rows matching no branch pass
    through untouched (or, for unmatched source rows, are simply not
    inserted).

    with_actions=True returns the PG 17 MERGE RETURNING set instead:
    only rows an UPDATE/DELETE/INSERT branch touched, tagged in
    ``__citus_merge_action`` (DELETE rows as their OLD image,
    UPDATE/INSERT as the NEW image). DO NOTHING rows are not
    returned, matching PG.
    """
    from functools import reduce

    matched_branches = list(matched_branches or [])
    not_matched_branches = list(not_matched_branches or [])
    by_source_branches = list(by_source_branches or [])
    t_cols = target.columns
    # the implicit column list of a list-less INSERT VALUES: declared
    # order minus stored generated columns (PG never includes them)
    _implicit_cols = [
        c for c in t_cols if c not in (generated_columns or ())
    ]
    t = target.alias("t")
    s = source.alias("s")

    # PG's "cannot affect row a second time" contract (see merge_apply)
    dup = source.groupBy(*keys).count().filter(F.col("count") > 1).limit(1)
    if dup.count() > 0:
        raise ValueError(
            "MERGE/ON CONFLICT: source has duplicate join keys — a "
            "target row cannot be affected twice (aggregate the "
            "source first)"
        )

    for _cond, action, asg in list(matched_branches) + list(
        by_source_branches
    ):
        if action not in ("update", "delete", "nothing"):
            raise ValueError(f"MERGE: unknown branch action {action!r}")
        unknown = {c for c, _ in asg or []} - set(t_cols)
        if unknown:
            raise ValueError(f"MERGE: unknown column(s) {sorted(unknown)}")
    for _cond, cols, vals in not_matched_branches:
        if cols is None or vals is None:
            # DO NOTHING / INSERT DEFAULT VALUES
            continue
        unknown = set(cols) - set(t_cols)
        if unknown:
            raise ValueError(
                f"MERGE: INSERT into unknown column(s) {sorted(unknown)}"
            )
        if cols and len(cols) != len(vals):
            raise ValueError("MERGE: INSERT column/value count mismatch")
        if not cols and len(vals) > len(_implicit_cols):
            # bare INSERT VALUES: positional over the target's
            # declared column order MINUS generated columns — PG
            # excludes them from the implicit list; surplus errors
            raise ValueError(
                "MERGE: INSERT has more expressions than target columns"
            )

    import re as _re

    dflts = column_defaults or {}

    def _value_expr(c, text: str) -> F.Column:
        """An assignment/insert value; the standalone DEFAULT keyword
        takes the column's declared default, NULL when none (PG)."""
        if _re.fullmatch(r"\s*DEFAULT\s*", text, _re.I):
            text = dflts.get(c, "NULL")
            if _re.match(r"\s*nextval\s*\(", text, _re.I):
                # a textual sequence default cannot evaluate inside
                # the merge's branch expressions (Spark has no
                # nextval, and per-branch row draws need the sequence
                # operator) — reject loudly rather than crash in the
                # analyzer or hand out a constant
                raise NotImplementedError(
                    f'column "{c}" defaults to {text} — drawing '
                    "sequence values inside MERGE branches is not "
                    "supported; supply the value explicitly or "
                    "INSERT the unmatched rows separately"
                )
        return F.expr(text).cast(target.schema[c].dataType)

    def branch_idx(branches, cond_of) -> F.Column:
        """First-true-wins branch index (-1 = no branch)."""
        chain = None
        for i, br in enumerate(branches):
            cond = cond_of(br)
            c = (
                F.lit(True)
                if cond is None
                else F.coalesce(F.expr(cond), F.lit(False))
            )
            chain = F.when(c, F.lit(i)) if chain is None else chain.when(
                c, F.lit(i)
            )
        return chain.otherwise(F.lit(-1)) if chain is not None else F.lit(-1)

    IDX = "__citus_mb"

    def project_updates(df, branches, side_default: str):
        """One per-column CASE chain: winning update branch's value,
        else the untouched target value."""

        def col_expr(c):
            chain = None
            for i, (_cond, action, asg) in enumerate(branches):
                if action != "update":
                    continue
                a = dict(asg or [])
                if asg and c not in a:
                    continue  # branch leaves this column untouched
                val = (
                    _value_expr(c, a[c])
                    if asg
                    else F.col(f"{side_default}.{c}")
                )
                hit = F.col(IDX) == i
                chain = (
                    F.when(hit, val)
                    if chain is None
                    else chain.when(hit, val)
                )
            base = F.col(f"t.{c}")
            return (chain.otherwise(base) if chain is not None else base)

        return df.select(
            *[col_expr(c).alias(c) for c in t_cols], F.col(IDX)
        )

    def action_tag(df, branches):
        chain = None
        for i, (_cond, action, _asg) in enumerate(branches):
            label = {"update": "UPDATE", "delete": "DELETE"}.get(action)
            if label is None:
                continue
            hit = F.col(IDX) == i
            chain = (
                F.when(hit, F.lit(label))
                if chain is None
                else chain.when(hit, F.lit(label))
            )
        return chain if chain is not None else F.lit(None).cast("string")

    parts: list[DataFrame] = []

    # ── matched rows: one inner equi-join ────────────────────────────
    if matched_branches:
        join_cond = reduce(
            lambda a, b: a & b,
            [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys],
        )
        m = t.join(s, join_cond, "inner").withColumn(
            IDX, branch_idx(matched_branches, lambda br: br[0])
        )
        del_idx = [
            i
            for i, (_c, a, _g) in enumerate(matched_branches)
            if a == "delete"
        ]
        if with_actions:
            proj = project_updates(m, matched_branches, "s")
            tagc = action_tag(proj, matched_branches)
            parts.append(
                proj.withColumn("__citus_merge_action", tagc)
                .filter(F.col("__citus_merge_action").isNotNull())
                .drop(IDX)
            )
        else:
            survivors = m
            if del_idx:
                survivors = m.filter(~F.col(IDX).isin(del_idx))
            parts.append(
                project_updates(survivors, matched_branches, "s").drop(IDX)
            )
    elif not with_actions:
        # no matched branch: matched target rows pass through untouched
        parts.append(
            t.join(source.select(*keys), keys, "left_semi").select(
                *[F.col(f"t.{c}").alias(c) for c in t_cols]
            )
        )

    # ── target rows with no source match: BY SOURCE branches ────────
    if not with_actions or by_source_branches:
        kept = t.join(source.select(*keys), keys, "left_anti")
        if by_source_branches:
            kept = kept.withColumn(
                IDX, branch_idx(by_source_branches, lambda br: br[0])
            )
            del_idx = [
                i
                for i, (_c, a, _g) in enumerate(by_source_branches)
                if a == "delete"
            ]
            if with_actions:
                proj = project_updates(kept, by_source_branches, "t")
                tagc = action_tag(proj, by_source_branches)
                parts.append(
                    proj.withColumn("__citus_merge_action", tagc)
                    .filter(F.col("__citus_merge_action").isNotNull())
                    .drop(IDX)
                )
            else:
                survivors = kept
                if del_idx:
                    survivors = kept.filter(~F.col(IDX).isin(del_idx))
                parts.append(
                    project_updates(
                        survivors, by_source_branches, "t"
                    ).drop(IDX)
                )
        elif not with_actions:
            parts.append(
                kept.select(*[F.col(f"t.{c}").alias(c) for c in t_cols])
            )

    # ── source rows with no target match: guarded inserts ───────────
    if not_matched_branches:
        unmatched = s.join(target.select(*keys), keys, "left_anti")
        unmatched = unmatched.withColumn(
            IDX, branch_idx(not_matched_branches, lambda br: br[0])
        )

        def ins_expr(c):
            chain = None
            for i, (_cond, cols, vals) in enumerate(not_matched_branches):
                if cols is None:  # DO NOTHING branch inserts nothing
                    continue
                if cols or (vals is not None and vals):
                    # explicit column list, or bare INSERT VALUES —
                    # PG maps a list-less VALUES to the target's
                    # leading columns in declared order
                    use_cols = cols or _implicit_cols[: len(vals)]
                    vmap = dict(zip(use_cols, vals))
                    if c in vmap:
                        # explicit value — the DEFAULT keyword resolves
                        # to the declared default inside _value_expr
                        val = _value_expr(c, vmap[c])
                    elif c in dflts:
                        # unlisted columns take their DEFAULT (PG) —
                        # the caller passes the table's declared
                        # column defaults
                        val = F.expr(dflts[c]).cast(
                            target.schema[c].dataType
                        )
                    else:
                        val = F.lit(None).cast(target.schema[c].dataType)
                elif vals is None:
                    # INSERT DEFAULT VALUES — every column takes its
                    # declared default, NULL when none (PG)
                    if c in dflts:
                        val = F.expr(dflts[c]).cast(
                            target.schema[c].dataType
                        )
                    else:
                        val = F.lit(None).cast(target.schema[c].dataType)
                else:  # INSERT * — whole source row
                    val = F.col(f"s.{c}")
                hit = F.col(IDX) == i
                chain = (
                    F.when(hit, val)
                    if chain is None
                    else chain.when(hit, val)
                )
            return (
                chain
                if chain is not None
                else F.lit(None).cast(target.schema[c].dataType)
            )

        ins_idx = [
            i
            for i, (_c, cols, _v) in enumerate(not_matched_branches)
            if cols is not None
        ]
        ins = unmatched.filter(F.col(IDX).isin(ins_idx)).select(
            *[ins_expr(c).alias(c) for c in t_cols]
        )
        if with_actions:
            ins = ins.withColumn("__citus_merge_action", F.lit("INSERT"))
        parts.append(ins)

    if not parts:
        empty = target.filter(F.lit(False))
        if with_actions:
            empty = empty.withColumn(
                "__citus_merge_action", F.lit(None).cast("string")
            )
        return empty
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def plan_str(df: DataFrame) -> str:
    """Physical-plan string (for plan assertions in tests/benches)."""
    return df._jdf.queryExecution().executedPlan().toString()


def n_exchanges(df: DataFrame) -> int:
    """Count shuffle exchanges in the physical plan — the metric the
    reference's join-order planner minimizes (multi_join_order.c:286
    JoinOrderList minimizes repartition count)."""
    plan = plan_str(df)
    return sum(
        line.count("Exchange hashpartitioning")
        + line.count("Exchange rangepartitioning")
        for line in plan.splitlines()
    )


def copy_to_jsonl_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    shard_col: str,
) -> None:
    """COPY (query) TO — JSON-lines export in `n_shards` hash-routed
    shard files: the training-data handoff format (one .json part per
    shard, rows routed by hash of `shard_col`, so re-exports are
    shard-stable and downstream loaders can consume shards
    independently). At scale this is one shuffle + parallel write —
    the same tuple-routing shape as COPY FROM in reverse."""
    df.repartition(n_shards, shard_col).write.mode("overwrite").json(path)


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction — bin-pack a parquet directory into
    ~`target_file_bytes` files (↔ the reference's VACUUM/shard-split
    maintenance family; on object storage the many-small-files problem
    is the #1 scan-throughput killer at 100 TB).

    Returns the new file count. Atomic swap via a temp directory so
    readers never see a half-compacted table. Uses repartition (not
    coalesce): coalesce would collapse upstream read parallelism to
    the target count; repartition keeps the read wide and shuffles
    once."""
    import math
    import shutil

    size = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n = max(1, math.ceil(size / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = path + ".compact_tmp"
    df.repartition(n).write.mode("overwrite").parquet(tmp)
    back = path + ".compact_old"
    os.rename(path, back)
    os.rename(tmp, path)
    shutil.rmtree(back)
    return n
