"""DistributedSession — the engine's front door.

Wraps a SparkSession with the distribution catalog and the table-
registration API that mirrors the reference's management UDF surface
(create_distributed_table / create_reference_table — reference
src/backend/distributed/commands/create_distributed_table.c:222,202).

Execution model mapping (SURVEY.md §3.1): the reference plans a query
into per-shard SQL tasks + a coordinator combine query; on Spark the
same split is Catalyst's partial/final aggregate + Exchange insertion,
so `sql()` here simply delegates to Spark SQL after the catalog has
arranged the physical layout (bucketed storage for co-located joins,
broadcast hints for reference tables) that makes Catalyst's plan match
the reference's data-movement decisions.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from citus_spark.session_mgmt import MgmtSurfaceMixin
from citus_spark.session_writes import WriteFunnelMixin
from citus_spark.catalog import (
    DEFAULT_SHARD_COUNT,
    DIST_HASH,
    DIST_RANGE,
    DIST_REFERENCE,
    DistCatalog,
)

# The ten driver-provided test tables (TESTDATA.md) with the
# distribution the reference's own test schema assigns them
# (FIXTURES.md; reference src/test/regress/sql/multi_create_table.sql:
# lineitem/orders hash-distributed co-located on the order key; dims as
# reference tables).
DEFAULT_DISTRIBUTION: dict[str, tuple[str, str | None]] = {
    "orders": (DIST_HASH, "o_orderkey"),
    "lineitem": (DIST_HASH, "l_orderkey"),
    "events": (DIST_HASH, "user_id"),
    "documents": (DIST_HASH, "doc_id"),
    "embeddings": (DIST_HASH, "vec_id"),
    "customer": (DIST_REFERENCE, None),
    "supplier": (DIST_REFERENCE, None),
    "part": (DIST_REFERENCE, None),
    "nation": (DIST_REFERENCE, None),
    "region": (DIST_REFERENCE, None),
}

# ↔ the reference's default colocation: lineitem and orders share the
# order key and land in one colocation group (multi_create_table.sql
# distributes both on the orderkey; Citus's colocate_with => 'default'
# groups same-type/shard-count tables). The map target must be
# registered first — DEFAULT_DISTRIBUTION order guarantees it.
DEFAULT_COLOCATION: dict[str, str] = {"lineitem": "orders"}

TPCH_TABLES = tuple(DEFAULT_DISTRIBUTION)


def session_confs(master: str, cpus: int) -> dict[str, str]:
    """The conf set get_spark applies, keyed by master topology so the
    local-only I/O posture can't ship to a cluster (see the compress
    block below). Pure function for testability."""
    confs: dict[str, str] = {}
    if master.startswith("local"):
        # Single-node I/O posture: shuffle/broadcast bytes never cross
        # a network here, they round-trip the local page cache, so lz4
        # on every block is pure CPU tax on the critical path (paired
        # A/B on the 17-query headline set at sf0.1: −6-11% wall).
        # A cluster master keeps compression ON — shuffles there are
        # network-bound and lz4 pays for itself many times over; the
        # gate on the master URL enforces what the r8 comment only
        # documented.
        confs["spark.shuffle.compress"] = "false"
        confs["spark.shuffle.spill.compress"] = "false"
        confs["spark.broadcast.compress"] = "false"
    return confs


def get_spark(app_name: str = "citus_spark", cpus: int | None = None) -> SparkSession:
    """Build the session with the scale-oriented defaults.

    AQE on (runtime re-plan, skew-join splitting, partition coalescing
    — the Spark counterpart of the reference's adaptive executor,
    reference src/backend/distributed/executor/adaptive_executor.c),
    UTC timezone (oracle comparability), Arrow enabled (Pandas-UDF fast
    path), shuffle partitions sized to cores for local mode — on a real
    cluster this would be ~2-3× total executor cores and AQE coalesces
    the rest.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # reducer count: AQE coalescing owns the real decision at
        # runtime; the static number only bounds scheduling overhead.
        # cpus/2 measures fastest for local-mode data sizes; a real
        # cluster sets adaptive.coalescePartitions.initialPartitionNum
        # to ~2-3× total cores instead.
        .config("spark.sql.shuffle.partitions", str(max(8, cpus // 2)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # co-partitioning on a SUBSET of the join keys must elide the
        # shuffle — this is exactly the reference's co-located join
        # rule (a join pushes down when the distribution column is
        # among the join quals, whatever other quals exist —
        # LOCAL_PARTITION_JOIN, multi_join_order.h:34). Spark default
        # (true) would shuffle both sides of e.g. the CH stock-level
        # join even when both tables are bucketed on the item key.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata stores events.ts as TIMESTAMP(NANOS); Spark's
        # parquet reader rejects nanos — read as long and convert (the
        # data carries no sub-microsecond precision, so lossless)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # split even small parquet files across tasks so single-file
        # test tables still scan in parallel, but not below 16 MiB:
        # finer splits manufacture tasks whose scheduling overhead
        # dominates sub-second queries (measured −20-30% on the
        # floor-bound headline set vs 4 MiB). queries.load_views
        # re-derives this per corpus (16 MiB floor ↔ 128 MiB default
        # ceiling for at-scale inputs where files outnumber cores).
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # Kryo for the JVM-side closure/broadcast serializer is
        # scale-neutral (it wins on both topologies); the local-only
        # compression posture lives in session_confs, gated on master.
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in session_confs(master, cpus).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _pg_type_name(spark_type: str) -> str:
    """Spark simpleString type → the PG spelling information_schema
    prints (information_schema.columns.data_type). PG prints bare
    'numeric' — precision/scale live in the numeric_precision /
    numeric_scale columns, not in data_type."""
    t = spark_type.lower()
    if t.startswith("decimal"):
        return "numeric"
    if t.startswith("array"):
        return "ARRAY"
    if t.startswith("struct") or t.startswith("map"):
        return "USER-DEFINED"
    return {
        "string": "text",
        "bigint": "bigint",
        "int": "integer",
        "smallint": "smallint",
        "tinyint": "smallint",
        "double": "double precision",
        "float": "real",
        "boolean": "boolean",
        "date": "date",
        "timestamp": "timestamp without time zone",
        "timestamp_ntz": "timestamp without time zone",
        "binary": "bytea",
        "interval": "interval",
    }.get(t, t)


def _spark_to_pg_ddl(spark_type: str) -> str:
    """Spark simpleString → a spelling ddl_sql._map_type re-parses
    (used when CREATE TABLE (LIKE src) re-emits the source's columns
    as DDL text)."""
    t = spark_type.lower()
    if t.startswith("array<") and t.endswith(">"):
        return _spark_to_pg_ddl(t[6:-1]) + "[]"
    if t.startswith("struct") or t.startswith("map"):
        raise ValueError(
            f"LIKE: cannot re-emit nested type {spark_type!r} as PG DDL"
        )
    if t == "float":
        return "real"
    if t == "timestamp_ntz":
        return "timestamp"
    return t


def _interval_granularity(text: str | None) -> str | None:
    """Map a PG interval spelling ('1 day', '1 mon', 'hourly', 'month')
    to a partition granularity, or None if it doesn't look like one."""
    if text is None:
        return None
    t = text.strip().lower()
    import re as _re

    m = _re.fullmatch(r"(?:1\s+)?(hour|day|week|month|mon)(?:s|ly)?", t)
    if m is None:
        return None
    unit = {"mon": "month"}.get(m.group(1), m.group(1))
    if unit not in ("hour", "day", "month"):
        raise ValueError(
            f"create_time_partitions: unsupported interval {text!r} "
            "(supported: hour/day/month)"
        )
    return unit


def _shard_label(dist_col: str, buckets: int, isolated: dict, splits=None):
    """Storage-partition label for a hash-distributed row:
    ``s<shardid>`` for an isolated tenant value or a range-split child
    (the row's int32 hash falls inside the child's sub-range), else
    ``b<bucket>`` from the same pmod(hash) placement the colocation
    machinery uses. The ONE implementation shared by the isolation/
    split writers and the citus_shards accountant — they must agree
    bit-for-bit or shard row counts drift from the physical layout."""
    h = F.hash(F.col(dist_col))
    bucket_of = F.pmod(h, F.lit(buckets))
    label = F.concat(F.lit("b"), bucket_of.cast("string"))
    for b, children in (splits or {}).items():
        for sid, lo, hi in children:
            label = F.when(
                (bucket_of == int(b)) & h.between(int(lo), int(hi)),
                F.lit(f"s{sid}"),
            ).otherwise(label)
    # isolation wins over a split label: an isolated tenant keeps its
    # dedicated shard even when its original bucket is later split
    for v, s in (isolated or {}).items():
        label = F.when(
            F.col(dist_col).cast("string") == v, F.lit(f"s{s}")
        ).otherwise(label)
    return label


class DistributedSession(MgmtSurfaceMixin, WriteFunnelMixin):
    """SparkSession + distribution catalog.

    The reference's per-table distribution choice changes *physical*
    behavior only — query semantics are identical for any layout. We
    keep the same invariant: every API here affects partitioning,
    broadcasting and storage layout, never results.
    """

    def __init__(self, spark: SparkSession | None = None):
        from citus_spark.stats import StatStatements

        self.spark = spark or get_spark()
        self.catalog = DistCatalog()
        self.stat_statements = StatStatements()
        # textual CREATE [MATERIALIZED] VIEW state: name → defining
        # SQL (views re-bind per statement — PG late binding), and
        # name → (sql, parquet path) for matviews (refresh-only)
        self._views: dict[str, str] = {}
        self._matviews: dict[str, tuple[str, str]] = {}
        self._in_view_refresh = False
        # sequence state (↔ the coordinator's sequence relations):
        # name → {"next": int, "inc": int, "last": int|None}.
        # _owned_seqs: implicit serial/IDENTITY sequences — dropped
        # with their table (PG ownership), unlike DEFAULT nextval refs
        self._sequences: dict[str, dict] = {}
        self._owned_seqs: set[str] = set()
        # schemas (↔ Citus 12 schema-based sharding): name →
        # {"distributed": bool, "colocation_id": int}. Qualified names
        # sch.tbl mangle to sch__tbl views — Spark temp-view names
        # cannot carry dots
        self._schemas: dict[str, dict] = {}
        self._next_schema_colocation = 100001
        # user-defined types (plans/type_sql.py): lowercase name →
        # {"kind": "enum"|"composite"|"domain", "name": str, ...}.
        # Enum-typed COLUMNS live on each catalog entry (enum_cols);
        # the ordering rewrite resolves them per statement from the
        # tables the statement references (review fix: a session-
        # global column-name map mis-bound same-named columns of
        # different enum types).
        self._types: dict[str, dict] = {}
        # procedures: lowercase name → {"params": [(name, pg_type)],
        # "language": str, "stmts": [sql]}
        self._procedures: dict[str, dict] = {}
        # perimeter DDL records (plans/trigger_sql.py): accepted
        # triggers ((table, name) → statement text; bodies never
        # fire — visible no-ops) and registered collations (name →
        # options; sorts stay binary-ordered, documented divergence)
        self._triggers: dict[tuple[str, str], str] = {}
        self._collations: dict[str, dict] = {}
        # (schema, table) pairs for relations created BARE while SET
        # search_path pointed at a registered schema — PG resolution
        # places them in that schema, so a later qualified sch.tbl
        # must reach the bare view regardless of the CURRENT path
        # (review fix: a current-path check broke after RESET)
        self._schema_members: set[tuple[str, str]] = set()

    @property
    def tx_cluster(self):
        """Session-level TxTable registry + named restore points
        (↔ reference operations/citus_create_restore_point.c). Lazy:
        sessions that never touch transactional tables pay nothing."""
        if getattr(self, "_tx_cluster", None) is None:
            import tempfile as _tf
            import uuid as _uuid

            from citus_spark.sources.txlog import TxCluster

            # uuid, never id(self): CPython reuses addresses, and an
            # address-keyed dir would hand a new session a dead
            # session's restore points
            self._tx_cluster = TxCluster(
                os.path.join(
                    _tf.gettempdir(),
                    f"citus_spark_txcluster_{os.getpid()}_"
                    f"{_uuid.uuid4().hex[:10]}",
                )
            )
        return self._tx_cluster

    # ------------------------------------------------------------------
    # Management API (↔ reference SQL-callable management UDFs)
    # ------------------------------------------------------------------
    def create_distributed_table(
        self,
        name: str,
        df: DataFrame,
        dist_col: str,
        buckets: int | None = None,
        colocate_with: str | None = None,
    ) -> DataFrame:
        """Register `df` as a hash-distributed table.

        ↔ reference create_distributed_table()
        (commands/create_distributed_table.c:222). The physical analog
        of the reference's hash-sharding (uniform int32 hash ranges,
        utils/shardinterval_utils.c:415) is Spark HashPartitioning:
        `repartition(buckets, col)` gives pmod(hash(col), buckets)
        placement, and two tables repartitioned the same way satisfy
        each other's distribution requirement so Catalyst's
        EnsureRequirements inserts no Exchange for dist-col joins.
        """
        if dist_col not in df.columns:
            raise ValueError(f"distribution column {dist_col!r} not in {df.columns}")
        self._reject_if_triggers(name)
        if buckets is None:
            buckets = self.shard_count  # ↔ citus.shard_count GUC
        prior = self.catalog.get(name)
        entry = self.catalog.register(
            name, DIST_HASH, dist_col, buckets=buckets, colocate_with=colocate_with
        )
        if prior is not None:
            # distributing an existing relation keeps its physical
            # metadata (storage path, columnar options) — the
            # reference likewise distributes in place
            entry.path = prior.path
            entry.columnar = prior.columnar
            entry.time_partitioning = prior.time_partitioning
            entry.identity = prior.identity
            entry.constraints = prior.constraints
            entry.defaults = prior.defaults
            entry.generated = prior.generated
            entry.enum_cols = prior.enum_cols
        # distribution rules re-judge every constraint now that the
        # table is hash-distributed (↔ create_distributed_table.c
        # erroring on non-dist-col unique keys / unsupported FKs);
        # the catalog reverts on failure so a rejected distribute
        # leaves the local table intact
        try:
            from citus_spark.plans import constraints as _cons

            for cn, spec in (entry.constraints or {}).items():
                if spec["kind"] in ("p", "u"):
                    _cons._distribution_rules_unique(
                        self, name, spec["cols"]
                    )
                elif spec["kind"] == "x":
                    _cons._distribution_rules_exclude(
                        self, name, spec["cols"], spec["ops"]
                    )
                elif spec["kind"] == "f":
                    _cons._distribution_rules_fk(
                        self, name, spec["cols"], spec["reftable"],
                        spec["refcols"],
                    )
                    _cons._distribution_rules_fk_actions(
                        self, name, spec["cols"],
                        spec.get("on_delete", "a"),
                        spec.get("on_update", "a"),
                    )
            for _t, _e, _c, ospec in _cons._inbound_fks(self, name):
                _cons._distribution_rules_fk(
                    self, _t, ospec["cols"], name, ospec["refcols"]
                )
                _cons._distribution_rules_fk_actions(
                    self, _t, ospec["cols"],
                    ospec.get("on_delete", "a"),
                    ospec.get("on_update", "a"),
                )
        except Exception:
            if prior is not None:
                self.catalog._tables[name] = prior
            else:
                self.catalog.unregister(name)
            raise
        out = df.repartition(buckets, F.col(dist_col))
        out.createOrReplaceTempView(name)
        return out

    def create_range_distributed_table(
        self,
        name: str,
        df: DataFrame,
        dist_col: str,
        buckets: int | None = None,
        path: str | None = None,
    ) -> DataFrame:
        """Register `df` range-distributed on `dist_col`
        (↔ create_distributed_table(..., distribution_type => 'range');
        pg_dist_partition DISTRIBUTE_BY_RANGE 'r',
        pg_dist_partition.h:54-57 — each shard owns a contiguous
        value range).

        Spark-first realization: `repartitionByRange` (range exchange
        with sampled bounds) + `sortWithinPartitions`, so every
        partition owns a disjoint, internally-sorted range. When
        `path` is given the layout is MATERIALIZED: each parquet file
        then carries tight min/max column statistics over a disjoint
        range, and any range predicate prunes whole files/row groups
        at scan time — exactly the reference's PruneShards on
        shardminvalue/shardmaxvalue intervals, realized through
        parquet statistics instead of a shard catalog. Range layouts
        are also the fast path for ORDER BY / BETWEEN / merge-join
        workloads (the reference's stated use of range distribution
        for ordered data)."""
        if dist_col not in df.columns:
            raise ValueError(
                f"distribution column {dist_col!r} not in {df.columns}"
            )
        if buckets is None:
            buckets = self.shard_count
        out = df.repartitionByRange(buckets, F.col(dist_col)) \
            .sortWithinPartitions(dist_col)
        if path is not None:
            out.write.mode("overwrite").parquet(path)
            out = self.spark.read.parquet(path)
        self.catalog.register(
            name, DIST_RANGE, dist_col, buckets=buckets, path=path
        )
        out.createOrReplaceTempView(name)
        return out

    def create_reference_table(self, name: str, df: DataFrame) -> DataFrame:
        """Register `df` as a reference table (↔ create_reference_table,
        commands/create_distributed_table.c:202): replicated everywhere
        in the reference; on Spark that is a broadcast relation.

        The broadcast hint is baked into the registered view's logical
        plan, so EVERY query that references the view — through
        `sql()`, at any subquery nesting — joins it broadcast-side
        regardless of `autoBroadcastJoinThreshold`. This is the
        planner responsibility the reference encodes as REFERENCE_JOIN
        (multi_join_order.h:33): replicated tables never repartition,
        however large. (Catalyst ignores the hint where broadcasting
        is illegal, e.g. the preserved side of an outer join — the
        same cases where the reference, too, must fall back.)"""
        self._reject_if_triggers(name)
        prior = self.catalog.get(name)
        entry = self.catalog.register(name, DIST_REFERENCE)
        if prior is not None:
            # converting an existing relation keeps its physical and
            # constraint metadata (same as the distribute path)
            entry.path = prior.path
            entry.columnar = prior.columnar
            entry.time_partitioning = prior.time_partitioning
            entry.identity = prior.identity
            entry.constraints = prior.constraints
            entry.defaults = prior.defaults
            entry.generated = prior.generated
            entry.enum_cols = prior.enum_cols
        df.hint("broadcast").createOrReplaceTempView(name)
        return df

    # ------------------------------------------------------------------
    # Loading the standard test layout
    # ------------------------------------------------------------------
    def load_tables(self, sf_dir: str, tables: tuple[str, ...] = TPCH_TABLES) -> None:
        """Register the driver's parquet tables as temp views with their
        default distribution metadata.

        View registration (incl. session-conf hardening and the
        events.ts nanos normalization) is shared with
        queries.load_views so every entry point behaves identically on
        a vanilla session. We intentionally do NOT eagerly repartition
        on load — a read-side repartition is an upfront shuffle most
        queries never need. The catalog records the *intended* layout;
        materialized (bucketed) layouts are produced by
        `sources.ingest` when a workload benefits."""
        from citus_spark.queries import load_views

        load_views(self.spark, sf_dir)
        # the loop below REPLACES dim views with broadcast-hinted ones,
        # so the plain-view registration memo must not claim this dir
        # is current — a later load_views must be able to restore the
        # unhinted views
        self.spark._citus_views_dir = None
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if not os.path.exists(path) or t in self.catalog:
                continue
            method, dist_col = DEFAULT_DISTRIBUTION.get(t, ("none", None))
            if method == DIST_HASH:
                mate = DEFAULT_COLOCATION.get(t)
                self.catalog.register(
                    t,
                    DIST_HASH,
                    dist_col,
                    colocate_with=mate if mate in self.catalog else None,
                    path=path,
                )
            elif method == DIST_REFERENCE:
                self.catalog.register(t, DIST_REFERENCE, path=path)
                # re-register the view with the broadcast hint in its
                # plan so the catalog's REFERENCE_JOIN decision binds
                # in the SQL path (see create_reference_table)
                self.spark.table(t).hint("broadcast").createOrReplaceTempView(t)
            else:
                self.catalog.register(t, "none", path=path)

    def table(self, name: str) -> DataFrame:
        df = self.spark.table(name)
        entry = self.catalog.get(name)
        if entry is not None and entry.is_reference:
            # reference tables always join broadcast-side
            # (↔ REFERENCE_JOIN, multi_join_order.h:33)
            return F.broadcast(df)
        return df

    # GUC-style session settings (↔ reference shared_library_init.c)
    count_distinct_error_rate: float | None = None  # ↔ citus.count_distinct_error_rate
    pg_compat: bool = False  # rewrite `expr::type` casts
    shard_count: int = DEFAULT_SHARD_COUNT  # ↔ citus.shard_count

    # the SET/SHOW-able GUC registry: name → (attr, parser). Matches
    # the reference's spellings so `SET citus.shard_count = 64;`
    # scripts run unchanged (shared_library_init.c RegisterCitusConfigVariables)
    _GUCS = {
        "citus.shard_count": ("shard_count", int),
        "citus.count_distinct_error_rate": (
            "count_distinct_error_rate",
            lambda v: None if float(v) == 0 else float(v),
        ),
        "citus.pg_compat": ("pg_compat", lambda v: str(v).lower() in ("on", "true", "1")),
        "citus.enable_schema_based_sharding": (
            "enable_schema_based_sharding",
            lambda v: str(v).lower() in ("on", "true", "1"),
        ),
        # bookkeeping GUCs the regress scripts set on every run:
        # next_shard_id seeds shard naming (ours are content-derived —
        # recorded, reported by SHOW, not load-bearing);
        # enable_ddl_propagation gates worker metadata propagation the
        # reference performs eagerly — this engine's registry IS the
        # catalog, so types/domains are always "created just in time"
        # on use, which is exactly the OFF behavior's contract
        # (distributed_types.sql:70-76).
        "citus.next_shard_id": ("next_shard_id", int),
        "citus.enable_ddl_propagation": (
            "enable_ddl_propagation",
            lambda v: str(v).lower() in ("on", "true", "1"),
        ),
        # logging toggle (shared_library_init.c) — recorded/SHOWable;
        # per-task SQL is visible through Spark's own UI/event log
        "citus.log_remote_commands": (
            "log_remote_commands",
            lambda v: str(v).lower() in ("on", "true", "1"),
        ),
        # replication factor: recorded/SHOWable only — durability is
        # the storage layer's job here (parquet on replicated storage),
        # so the engine never fans out writes N ways itself
        "citus.shard_replication_factor": (
            "shard_replication_factor", int,
        ),
        # coordinator-pull aggregation toggle: Catalyst owns the
        # partial/final split here, so the strategy is recorded only
        # (regress scripts disable it around unsupported-agg probes)
        "citus.coordinator_aggregation_strategy": (
            "coordinator_aggregation_strategy", str,
        ),
    }
    next_shard_id: int = 102008
    enable_ddl_propagation: bool = True
    enable_schema_based_sharding: bool = False
    log_remote_commands: bool = False
    shard_replication_factor: int = 1
    coordinator_aggregation_strategy: str = "row-gather"

    def _execute_guc(self, query: str) -> DataFrame | None:
        """`SET citus.<guc> = <value>` / `SHOW citus.<guc>` — session
        variables, PostgreSQL spelling. Non-citus SET/SHOW fall through
        to Spark's own (runtime-conf) handling."""
        import re as _re

        m = _re.match(
            r"^\s*SET\s+(citus\.[\w.]+)\s*(?:=|TO)\s*(.+?)\s*;?\s*$",
            query,
            _re.I,
        )
        if m:
            name = m.group(1).lower()
            if name not in self._GUCS:
                raise ValueError(f"unknown GUC {name!r}")
            attr, parse = self._GUCS[name]
            raw = m.group(2).strip().strip("'\"")
            setattr(self, attr, parse(raw))
            return self.spark.sql("SELECT 'SET' AS status")
        # SET search_path — every regress script's second statement.
        # This engine resolves bare names in ONE session-global
        # namespace (schema-qualified spellings mangle to it), which
        # is PG's behavior when all objects live on the search path;
        # the setting is recorded and SHOWable, not resolution-
        # changing. RESET restores the PG default.
        m = _re.match(
            r"^\s*SET\s+(?:SESSION\s+|LOCAL\s+)?SEARCH_PATH\s*(?:=|TO)"
            r"\s*(.+?)\s*;?\s*$",
            query, _re.I,
        )
        if m:
            # SESSION/LOCAL prefixes accepted (SET LOCAL search_path
            # is common inside regress transactions; without this it
            # fell through to the generic TO handler and Spark's
            # runtime conf, silently diverging from _search_path)
            self._search_path = m.group(1).strip()
            return self.spark.sql("SELECT 'SET' AS status")
        if _re.match(r"^\s*RESET\s+SEARCH_PATH\s*;?\s*$", query, _re.I):
            self._search_path = '"$user", public'
            return self.spark.sql("SELECT 'RESET' AS status")
        # pg_dump preamble: SELECT pg_catalog.set_config('k','v',bool)
        # — the function-call spelling of SET (pg_dump always emits it
        # for search_path). Returns the value, like PG.
        m = _re.match(
            r"^\s*SELECT\s+(?:pg_catalog\.)?set_config\(\s*"
            r"'([^']*)'\s*,\s*'([^']*)'\s*,\s*(?:true|false)\s*\)"
            r"\s*;?\s*$",
            query, _re.I,
        )
        if m:
            name, val = m.group(1), m.group(2)
            low = name.lower()
            if low == "search_path":
                # store '' verbatim — pg_dump's preamble value; name
                # resolution treats an empty path as public, but SHOW
                # must report what was set (review fix)
                self._search_path = val
            elif low in self._GUCS:
                attr, parse = self._GUCS[low]
                setattr(self, attr, parse(val))
            else:
                try:
                    self.spark.conf.set(name, val)
                except Exception:
                    pass
            return self.spark.createDataFrame(
                [(val,)], "set_config string"
            )
        # PG's `SET <name> TO <value>` spelling for non-citus settings
        # (client_min_messages, statement_timeout, ...): Spark records
        # arbitrary `SET k = v` pairs in its runtime conf — map the TO
        # spelling onto that, so SHOW <name> reads it back
        m = _re.match(
            r"^\s*SET\s+(?:SESSION\s+|LOCAL\s+)?([A-Za-z_][\w.]*)\s+TO\s+"
            r"(.+?)\s*;?\s*$",
            query, _re.I,
        )
        if m and not m.group(1).lower().startswith("citus."):
            val = m.group(2).strip()
            return self.spark.sql(f"SET {m.group(1)} = {val}")
        if _re.match(r"^\s*SHOW\s+SEARCH_PATH\s*;?\s*$", query, _re.I):
            return self.spark.createDataFrame(
                [(getattr(self, "_search_path", '"$user", public'),)],
                "search_path string",
            )
        m = _re.match(
            r"^\s*RESET\s+(citus\.[\w.]+)\s*;?\s*$", query, _re.I
        )
        if m:
            name = m.group(1).lower()
            if name not in self._GUCS:
                raise ValueError(f"unknown GUC {name!r}")
            attr, _ = self._GUCS[name]
            # restore the class-level default (instance attr shadowed)
            if attr in self.__dict__:
                del self.__dict__[attr]
            return self.spark.sql("SELECT 'RESET' AS status")
        m = _re.match(r"^\s*SHOW\s+(citus\.[\w.]+)\s*;?\s*$", query, _re.I)
        if m:
            name = m.group(1).lower()
            if name not in self._GUCS:
                raise ValueError(f"unknown GUC {name!r}")
            attr, _ = self._GUCS[name]
            val = getattr(self, attr)
            return self.spark.createDataFrame(
                [(str(val),)], f"`{name}` string"
            )
        # PG `SHOW <guc>` for non-citus names: Spark records arbitrary
        # `SET k = v` in its runtime conf, and its bare `SET k` reads
        # it back — SHOW is the PG spelling of that read. Spark's own
        # SHOW commands (FUNCTIONS/SCHEMAS/CATALOGS/..) must keep
        # falling through to Spark, and an unset name errors like PG
        # instead of returning '<undefined>'.
        # multi-word PG spellings first: SHOW TIME ZONE is the SQL-
        # standard alias of SHOW timezone, and SHOW ALL dumps every
        # explicitly-set parameter (PG's name/setting projection;
        # Spark's bare SET lists exactly the explicitly-set confs)
        if _re.match(r"^\s*SHOW\s+TIME\s+ZONE\s*;?\s*$", query, _re.I):
            query = "SHOW spark.sql.session.timeZone"
        if _re.match(r"^\s*SHOW\s+ALL\s*;?\s*$", query, _re.I):
            return (
                self.spark.sql("SET")
                .toDF("name", "setting")
                .orderBy("name")
            )
        m = _re.match(r"^\s*SHOW\s+([A-Za-z_][\w.]*)\s*;?\s*$", query, _re.I)
        if m and m.group(1).upper() not in (
            "TABLES", "DATABASES", "VIEWS", "FUNCTIONS", "SCHEMAS",
            "CATALOGS", "NAMESPACES", "PARTITIONS", "COLUMNS",
            "TBLPROPERTIES", "CREATE", "USERS",
        ):
            row = self.spark.sql(f"SET {m.group(1)}").collect()[0]
            if row[1] == "<undefined>":
                raise ValueError(
                    f'unrecognized configuration parameter "{m.group(1)}"'
                )
            return self.spark.createDataFrame(
                [(row[1],)], f"`{m.group(1)}` string"
            )
        return None

    def sql(self, query: str) -> DataFrame:
        """Run Spark SQL. Catalyst performs the worker/coordinator split
        the reference implements in multi_logical_optimizer.c (partial
        vs final aggregation, pushdown, limit split) natively. Opt-in
        rewrites (plans/rewrites.py) apply first. MERGE INTO text (not
        in Spark's parser for parquet relations) routes through the
        merge operator (plans/merge_sql.py ↔ merge_planner.c:115)."""
        from citus_spark.plans.merge_sql import is_merge
        from citus_spark.plans.rewrites import (
            extract_materialized_ctes,
            pg_casts,
            rewrite_count_distinct,
        )
        from citus_spark.plans.router import router_key

        import re as _re

        # late-bound textual views (PG semantics): a view's defining
        # query re-resolves against CURRENT storage at each statement,
        # so DML/DDL between statements is always visible through it
        if self._views and not self._in_view_refresh:
            self._refresh_textual_views()

        # schema-qualified names mangle to their view spelling before
        # any executor parses the text; public./pg_catalog. qualifiers
        # resolve to the unqualified namespace even with no registered
        # schemas (pg_dump fully qualifies EVERYTHING after its
        # set_config('search_path','') preamble)
        if "." in query or "SCHEMA" in query.upper():
            if self._schemas or _re.search(
                r"\bpublic\s*\.", query, _re.I
            ):
                query = self._mangle_schema_names(query)
            if _re.search(r"\bpg_catalog\s*\.", query, _re.I):
                from citus_spark.plans.rewrites import _map_code

                query = _map_code(
                    query,
                    lambda c: _re.sub(
                        r"\bpg_catalog\s*\.\s*", "", c, flags=_re.I
                    ),
                )

        # user-defined type expressions (plans/type_sql.py): composite
        # row casts / field access, enum label casts, domain casts —
        # rewritten before ANY executor parses the text, so INSERT /
        # UPDATE / SELECT all see plain Spark expressions. Enum
        # ordered-comparison shims apply to query/DML statements only
        # (the DDL path records its CHECK text verbatim).
        # COPY .. FROM STDIN carries inline payload DATA lines — no
        # expression rewrite may touch those (review fix)
        _is_copy_stmt = bool(_re.match(r"\s*COPY\b", query, _re.I))
        # COLLATE clauses (expressions, ORDER BY, column defs): strip
        # after validating the name — sorts run in binary UTF-8 order,
        # a documented divergence (plans/trigger_sql.py). COLLATION
        # DDL itself is handled downstream; \b keeps COLLATION (no
        # boundary before the I) from matching.
        if (
            _re.search(r"\bCOLLATE\b", query, _re.I)
            and not _is_copy_stmt
        ):
            from citus_spark.plans.trigger_sql import strip_collate

            query = strip_collate(query, self._collations)
        if self._types and not _is_copy_stmt and not _re.match(
            r"\s*(CREATE|ALTER|DROP)\s+(TYPE|DOMAIN|PROCEDURE)\b",
            query, _re.I,
        ):
            from citus_spark.plans.type_sql import rewrite_type_exprs

            query = rewrite_type_exprs(query, self._types)
        if self._types and not _is_copy_stmt and not _re.match(
            r"\s*(CREATE|ALTER|DROP)\b", query, _re.I
        ):
            col_labels, conflicts = self._enum_cols_for_statement(query)
            if col_labels or conflicts:
                from citus_spark.plans.type_sql import (
                    rewrite_enum_ordering,
                )

                query = rewrite_enum_ordering(
                    query, col_labels, conflicts
                )

        # FROM ONLY <partitioned parent> (PG: the parent's own rows,
        # which a declaratively partitioned parent never has) → the
        # registered empty-base view (↔ multi_partitioning.sql:49-51)
        if _re.search(r"\bONLY\b", query, _re.I) and not _re.match(
            r"\s*COPY\b", query, _re.I  # COPY payload lines are DATA
        ):
            from citus_spark.plans.rewrites import _masked_spans

            spans = _masked_spans(query)

            def _only_sub(m: "_re.Match") -> str:
                # never rewrite inside string literals / comments /
                # COPY payload text — 'FROM ONLY pt' may be DATA
                if any(a <= m.start() < b for a, b in spans):
                    return m.group(0)
                t = m.group(2)
                e = self.catalog.get(t)
                if e is not None and getattr(e, "partition_by", None):
                    return f"{m.group(1)} {t}__only"
                if e is not None or self._table_exists(t):
                    # FROM ONLY on an unpartitioned relation is PG for
                    # plain FROM (no children to exclude)
                    return f"{m.group(1)} {t}"
                return m.group(0)

            query = _re.sub(
                r"\b(FROM|JOIN)\s+ONLY\s+([A-Za-z_]\w*)",
                _only_sub,
                query,
                flags=_re.I,
            )

        # sequence calls: coordinator evaluation (literal draws), then
        # the distributed per-row path for nextval over a FROM query
        # DDL keeps the calls textual (a CREATE TABLE .. DEFAULT
        # nextval('s') binds the column to the sequence — it must not
        # draw a value at definition time)
        if _re.search(
            r"\b(nextval|currval|setval)\s*\(\s*'", query, _re.I
        ) and _re.match(
            r"\s*(INSERT|SELECT|WITH|VALUES|UPDATE|DELETE)\b", query, _re.I
        ):
            if _re.match(r"\s*DELETE\b", query, _re.I) and _re.search(
                r"\bnextval\s*\(\s*'", query, _re.I
            ):
                # advancing a sequence from a DELETE predicate has no
                # sane per-row contract — reject rather than guess
                raise NotImplementedError(
                    "nextval() inside DELETE is not supported"
                )
            # UPDATE keeps nextval textual: PG draws per affected ROW
            # there, so _execute_dml allocates a distributed block
            # instead of a single coordinator substitution (currval/
            # setval still coordinator-evaluate)
            query = self._eval_sequence_calls(
                query,
                skip_nextval=bool(_re.match(r"\s*UPDATE\b", query, _re.I)),
            )
            if _re.search(r"\bnextval\s*\(", query, _re.I) and _re.match(
                r"\s*(SELECT|WITH)\b", query, _re.I
            ):
                return self._execute_nextval_select(query)

        # EXPLAIN ANALYZE <stmt> — not in Spark's grammar; ours returns
        # the metric-annotated tree as a one-column relation, the same
        # surface shape as Spark's own EXPLAIN
        m = _re.match(r"\s*EXPLAIN\s+ANALYZE\s+(.+)$", query, _re.I | _re.S)
        if m:
            text = self.explain_analyze_text(m.group(1))
            return self.spark.createDataFrame(
                [(text,)], "explain_analyze string"
            )
        # PG option-list EXPLAIN — `EXPLAIN (COSTS OFF) stmt`,
        # `EXPLAIN (ANALYZE, TIMING OFF) stmt`, `EXPLAIN VERBOSE stmt`
        # (regress scripts use these forms everywhere). ANALYZE in the
        # option list executes (our metric tree); anything else is a
        # plan-only render — the inner statement goes through the PG
        # rewrites but is NEVER executed, like PG's EXPLAIN.
        m = _re.match(
            r"\s*EXPLAIN\s*(?:\(\s*(?P<opts>[^)]*)\)|\s(?P<kw>VERBOSE))\s*"
            r"(?P<stmt>SELECT\b.+|WITH\b.+|VALUES\b.+|TABLE\b.+)$",
            query,
            _re.I | _re.S,
        )
        if m:
            opts = (m.group("opts") or m.group("kw") or "").upper()
            inner = m.group("stmt")
            if "ANALYZE" in opts:
                text = self.explain_analyze_text(inner)
            else:
                plan = self.spark.sql(
                    "EXPLAIN " + self._apply_pg_rewrites(inner)
                ).collect()[0][0]
                text = plan
            return self.spark.createDataFrame([(text,)], "plan string")
        from citus_spark.plans.prepared_sql import is_prepared_statement

        if is_prepared_statement(query):
            return self._execute_prepared(query)
        mod_cte = self._execute_modifying_cte(query)
        if mod_cte is not None:
            return mod_cte
        if is_merge(query):
            return self._execute_merge(query)
        ddl = self._execute_ddl(query)
        if ddl is not None:
            return ddl
        from citus_spark.plans.insert_sql import is_insert

        if is_insert(query):
            ins = self._execute_insert(query)
            if ins is not None:
                return ins
            # not one of ours → Spark's own INSERT INTO handling
        from citus_spark.plans.dml_sql import is_dml, parse_dml

        if _re.match(r"\s*UPDATE\b", query, _re.I) and _re.search(
            r"\(\s*[A-Za-z_]\w*\s*,", query
        ):
            # PG row-form assignment SET (a, b) = (e1, e2) → pairwise
            from citus_spark.plans.rewrites import pg_update_row_set

            query = pg_update_row_set(query)
        if _re.match(r"\s*(UPDATE|DELETE)\b", query, _re.I) and _re.search(
            r"\)\s*(=|<>|!=)\s*\(", query
        ):
            # row-value comparison in a DML WHERE: the DML executor
            # builds its filter from the raw text (no
            # _apply_pg_rewrites pass), so expand here
            from citus_spark.plans.rewrites import pg_row_comparison

            query = pg_row_comparison(query)
        if is_dml(query):
            # claim the statement only for OUR catalog tables; DML on
            # anything else falls through to Spark (which has native
            # UPDATE/DELETE for v2 sources) — same fall-through rule
            # as the utility statements
            stmt = parse_dml(query)
            if stmt is not None and self.catalog.get(stmt.table) is not None:
                return self._execute_dml(query)
        guc = self._execute_guc(query)
        if guc is not None:
            return guc
        from citus_spark.plans.copy_sql import is_copy

        if is_copy(query):
            return self._execute_copy(query)
        # COPY .. TO STDOUT (psql streaming surface): the front-door
        # analog is returning the relation itself — the caller is the
        # stream. STDIN has no input channel here; reject with the
        # file-path form the engine does support.
        m = _re.match(
            r"\s*COPY\s+(?:\(\s*(?P<q>.+?)\s*\)|(?P<t>[A-Za-z_][\w.]*))"
            r"\s+TO\s+STDOUT\b.*$",
            query,
            _re.I | _re.S,
        )
        if m:
            return self.sql(
                m.group("q") or f"SELECT * FROM {m.group('t')}"
            )
        if _re.match(r"\s*COPY\s+.+?\bFROM\s+STDIN\b", query, _re.I | _re.S):
            # psql-dump replay: the statement carries its data lines
            # inline, terminated by a `\.` line (plans/copy_stdin.py);
            # the API twin is DistributedSession.copy_from_stdin
            from citus_spark.plans.copy_stdin import parse_copy_stdin

            st = parse_copy_stdin(query)
            if st is None:
                raise ValueError(
                    "COPY .. FROM STDIN: cannot parse the COPY head"
                )
            table, cols, fmt, payload = st
            if payload is None:
                raise ValueError(
                    "COPY .. FROM STDIN needs inline data lines after "
                    "the statement, terminated by a \\. line (psql-"
                    "dump shape) — or call copy_from_stdin(table, "
                    "source), or use COPY <table> FROM '<path>'"
                )
            return self._copy_from_stdin(
                table, payload, fmt=fmt, cols=cols, query_text=query
            )
        util = self._execute_utility(query)
        if util is not None:
            return util
        mgmt = self._execute_mgmt(query)
        if mgmt is not None:
            return mgmt
        into = self._execute_select_into(query)
        if into is not None:
            return into
        query = self._apply_pg_rewrites(query)
        key = router_key(query, self.catalog)
        query = self._route_isolated_tenants(query, key)
        if self.count_distinct_error_rate:
            query = rewrite_count_distinct(query, self.count_distinct_error_rate)
        # WITH x AS MATERIALIZED (...) — evaluate once into a cached
        # relation (↔ cte_inline.c: MATERIALIZED forces an intermediate
        # result; Citus scans it via read_intermediate_result). The
        # cached view persists for the session, like materialize().
        mat, query = extract_materialized_ctes(query)
        for name, body in mat:
            self.materialize(name, self.spark.sql(body))
        df = self.spark.sql(query)
        self.stat_statements.record(
            query,
            None if key is None else key.value,
            executor="adaptive" if key is None else "router",
        )
        return df

    def _writable_entry(self, name: str, verb: str):
        """Resolve a writing statement's target: a catalog table whose
        LIVE storage (the time-partitioned layout when set — after
        create_time_partitions the original entry.path is a stale
        snapshot, not the relation) sits outside every protected
        root."""
        entry = self.catalog.get(name)
        if entry is None or not self._live_path(entry):
            raise ValueError(
                f"{verb} target {name!r} must be a catalog-registered "
                "table with a storage path (create_distributed_table "
                "over parquet, or a materialized write)"
            )
        norm = os.path.abspath(self._live_path(entry))
        for root in self.protected_paths:
            if norm.startswith(os.path.abspath(root) + os.sep):
                raise ValueError(
                    f"{verb} target {name!r} is backed by the read-only "
                    f"fixture store {root!r}; materialize it to a "
                    "writable location first (write_distributed / CTAS)"
                )
        return entry

    # -- schemas (↔ reference schema_based_sharding.sql regress /
    # Citus 12 tenant-per-schema model) ---------------------------------
    def _execute_schema_ddl(self, query: str):
        import re as _re

        m = _re.match(
            r"^\s*CREATE\s+SCHEMA\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            r"(?P<name>[A-Za-z_]\w*)\s*(?:AUTHORIZATION\s+\w+)?\s*;?\s*$",
            query,
            _re.I,
        )
        if m:
            name = m.group("name")
            if name not in self._schemas:
                # under schema-based sharding every schema is its own
                # colocation group (the Citus 12 tenant model) — the
                # Spark analog is metadata-only (task placement is the
                # scheduler's), surfaced through citus_schemas
                self._schemas[name] = {
                    "distributed": self.enable_schema_based_sharding,
                    "colocation_id": (
                        self._next_schema_colocation
                        if self.enable_schema_based_sharding
                        else 0
                    ),
                }
                if self.enable_schema_based_sharding:
                    self._next_schema_colocation += 1
            self.stat_statements.record(query, None, executor="utility")
            return self.spark.createDataFrame(
                [("CREATE SCHEMA",)], "status string"
            )
        m = _re.match(
            r"^\s*DROP\s+SCHEMA\s+(?P<ine>IF\s+EXISTS\s+)?"
            r"(?P<name>[A-Za-z_]\w*)\s*(?P<cascade>CASCADE)?\s*"
            r"(?:RESTRICT)?\s*;?\s*$",
            query,
            _re.I,
        )
        if m:
            name = m.group("name")
            if name not in self._schemas:
                if m.group("ine"):
                    return self.spark.createDataFrame(
                        [("DROP SCHEMA skipped: unknown",)], "status string"
                    )
                raise ValueError(f'schema "{name}" does not exist')
            members = [
                t for t in self.catalog.tables() if t.startswith(f"{name}__")
            ]
            if members and not m.group("cascade"):
                raise ValueError(
                    f'schema "{name}" is not empty — use DROP SCHEMA '
                    f"{name} CASCADE ({len(members)} table(s))"
                )
            for t in members:
                self.sql(f"DROP TABLE {t}")
            self._schemas.pop(name)
            return self.spark.createDataFrame(
                [("DROP SCHEMA",)], "status string"
            )
        return None

    def _mangle_schema_names(self, query: str) -> str:
        """sch.tbl → sch__tbl for registered schemas (Spark temp-view
        names cannot carry dots); public.tbl → tbl (the default
        namespace IS the unqualified catalog). Segment-aware."""
        import re as _re

        from citus_spark.plans.rewrites import _map_code

        names = [n for n in self._schemas if n != "public"]
        pats = []
        if names:
            alt = "|".join(_re.escape(n) for n in names)

            def _sch_sub(m: "_re.Match") -> str:
                # a relation created BARE while `SET search_path TO
                # sch` was active lives in sch (PG resolution; the
                # membership is recorded at CREATE time, so a later
                # qualified `sch.tbl` reaches it regardless of the
                # CURRENT path — distributed_collations.sql:32)
                sch, tbl = m.group(1), m.group(2)
                mangled = f"{sch}__{tbl}"
                if (
                    (sch.lower(), tbl.lower()) in self._schema_members
                    and not self._table_exists(mangled)
                ):
                    return tbl
                return mangled

            pats.append((
                _re.compile(rf"\b({alt})\.([A-Za-z_]\w*)", _re.I),
                _sch_sub,
            ))
        pats.append((_re.compile(r"\bpublic\.([A-Za-z_]\w*)", _re.I), r"\1"))

        def fix(code: str) -> str:
            for pat, repl in pats:
                code = pat.sub(repl, code)
            return code

        return _map_code(query, fix)

    def _rewrite_pg_catalog_views(self, query: str) -> str:
        """pg_catalog compatibility views — `pg_tables`, `pg_views`,
        `pg_matviews` (the introspection surface psql-era tooling
        queries; ↔ PostgreSQL system views, which the reference
        inherits). Populated from the session catalog on reference;
        the pg_catalog./public. qualifiers are accepted."""
        import re as _re

        from citus_spark.plans.rewrites import _map_code

        if _re.search(r"\bcitus_schemas\b", query, _re.I):
            self.citus_schemas().createOrReplaceTempView("_citus_schemas")
            query = _map_code(
                query,
                lambda c: _re.sub(
                    r"\bcitus_schemas\b", "_citus_schemas", c, flags=_re.I
                ),
            )
        if _re.search(
            r"\bpg_dist_(partition|shard|colocation|node|placement"
            r"|rebalance_strategy)\b",
            query, _re.I,
        ):
            query = self._register_pg_dist_views(query)
        if _re.search(r"\bpg_enum\b", query, _re.I):
            # ↔ PostgreSQL pg_enum — the regress suites assert label
            # order through it (distributed_types.sql:67). enumtypid
            # carries the type NAME (no oids here); the ::regtype fold
            # below resolves a quoted name to its canonical registry
            # key so `enumtypid = 'schema.te2'::regtype` compares.
            rows = [
                (t["name"], float(i + 1), lbl)
                for t in self._types.values()
                if t["kind"] == "enum"
                for i, lbl in enumerate(t["labels"])
            ]
            self.spark.createDataFrame(
                rows or [("", 0.0, "")],
                "enumtypid string, enumsortorder double, enumlabel string",
            ).filter(F.col("enumtypid") != "").createOrReplaceTempView(
                "_pg_enum"
            )

            def _regtype_fold(m: _re.Match) -> str:
                t = self._resolve_type(m.group(1))
                name = t["name"] if t is not None else m.group(1)
                return f"'{name}'"

            query = _re.sub(
                r"'([\w.]+)'\s*::\s*regtype", _regtype_fold, query
            )
            query = _map_code(
                query,
                lambda c: _re.sub(
                    r"\bpg_enum\b", "_pg_enum", c, flags=_re.I
                ),
            )
        if _re.search(r"\bpg_constraint\b", query, _re.I):
            # ↔ PostgreSQL pg_constraint, the regress suites' way of
            # asserting constraint state. conrelid/confrelid carry the
            # TABLE NAME (we have no oids); the '::regclass' fold
            # below makes `conrelid = 'tbl'::regclass` and
            # `conrelid::regclass` print/compare names, like PG.
            # conkey holds the column list as a comma string (the
            # driver/oracle comparators cannot hash array cells).
            crows = []
            for t in self.catalog.tables().values():
                for cn, spec in (t.constraints or {}).items():
                    crows.append((
                        cn,
                        spec["kind"],
                        t.name,
                        spec.get("reftable") or "",
                        bool(spec.get("valid", True)),
                        ",".join(spec.get("cols") or []),
                        ",".join(spec.get("refcols") or []),
                        spec.get("expr") or "",
                        # PG confdeltype/confupdtype codes (a/r/c/n/d);
                        # space for non-FK constraints, like PG
                        spec.get("on_delete", " " if spec["kind"] != "f"
                                 else "a"),
                        spec.get("on_update", " " if spec["kind"] != "f"
                                 else "a"),
                    ))
            self.spark.createDataFrame(
                crows or [("", "", "", "", True, "", "", "", "", "")],
                "conname string, contype string, conrelid string, "
                "confrelid string, convalidated boolean, conkey string, "
                "confkey string, consrc string, confdeltype string, "
                "confupdtype string",
            ).filter(F.col("conname") != "").createOrReplaceTempView(
                "_pg_constraint"
            )
            query = _map_code(
                query,
                lambda c: _re.sub(
                    r"\b(?:pg_catalog\.)?pg_constraint\b",
                    "_pg_constraint",
                    _re.sub(r"::\s*regclass\b", "", c, flags=_re.I),
                    flags=_re.I,
                ),
            )
        if _re.search(
            r"\binformation_schema\s*\.\s*(tables|columns)\b", query, _re.I
        ):
            query = self._register_information_schema(query)
        if not _re.search(r"\bpg_(tables|views|matviews)\b", query, _re.I):
            return query

        if _re.search(r"\bpg_tables\b", query, _re.I):
            rows = [
                (t.name, "citus", t.method)
                for t in self.catalog.tables().values()
            ]
            self.spark.createDataFrame(
                rows or [("", "", "")],
                "tablename string, tableowner string, "
                "citus_table_type string",
            ).filter(F.col("tablename") != "").withColumn(
                "schemaname", F.lit("public")
            ).createOrReplaceTempView("_pg_tables")
        if _re.search(r"\bpg_views\b", query, _re.I):
            rows = [(n, "citus", b) for n, b in self._views.items()]
            self.spark.createDataFrame(
                rows or [("", "", "")],
                "viewname string, viewowner string, definition string",
            ).filter(F.col("viewname") != "").withColumn(
                "schemaname", F.lit("public")
            ).createOrReplaceTempView("_pg_views")
        if _re.search(r"\bpg_matviews\b", query, _re.I):
            populated = {
                n for n in self._matviews
                if self.spark.catalog.tableExists(n)
            }
            rows = [
                (n, "citus", n in populated, b)
                for n, (b, _) in self._matviews.items()
            ]
            self.spark.createDataFrame(
                rows or [("", "", False, "")],
                "matviewname string, matviewowner string, "
                "ispopulated boolean, definition string",
            ).filter(F.col("matviewname") != "").withColumn(
                "schemaname", F.lit("public")
            ).createOrReplaceTempView("_pg_matviews")

        def fix(code: str) -> str:
            code = _re.sub(
                r"\b(?:pg_catalog\.|public\.)?pg_matviews\b",
                "_pg_matviews", code, flags=_re.I,
            )
            code = _re.sub(
                r"\b(?:pg_catalog\.|public\.)?pg_views\b",
                "_pg_views", code, flags=_re.I,
            )
            return _re.sub(
                r"\b(?:pg_catalog\.|public\.)?pg_tables\b",
                "_pg_tables", code, flags=_re.I,
            )

        return _map_code(query, fix)

    def _expand_create_like(self, query: str) -> str:
        """CREATE TABLE .. (LIKE src [INCLUDING/EXCLUDING ..]) — PG's
        clone-the-shape spelling. Expands the LIKE item into the
        source's column DDL before the normal CREATE parse: columns
        and NOT NULL always copy (PG semantics); DEFAULTS /
        CONSTRAINTS (CHECKs) / GENERATED / IDENTITY / INDEXES
        (PK/UNIQUE) copy under their INCLUDING options or INCLUDING
        ALL. Options with no analog here (STATISTICS, STORAGE,
        COMMENTS, COMPRESSION) are accepted and ignored, like the
        index no-ops."""
        import re as _re

        from citus_spark.plans.rewrites import (
            _masked_spans,
            _split_top_level,
        )

        m = _re.match(
            r"^\s*CREATE\s+(?:(?:GLOBAL\s+|LOCAL\s+)?TEMP(?:ORARY)?\s+"
            r"|UNLOGGED\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            r"[A-Za-z_][\w.]*\s*\(",
            query,
            _re.I,
        )
        if m is None:
            return query
        open_idx = m.end() - 1
        spans = _masked_spans(query)
        from citus_spark.plans.rewrites import _masked_close_paren

        e = _masked_close_paren(query, open_idx + 1, spans)
        if e < 0:
            return query
        items = _split_top_level(query[open_idx + 1 : e])
        out: list[str] = []
        changed = False
        for it in items:
            lm = _re.match(
                r"^\s*LIKE\s+([A-Za-z_][\w.]*)"
                r"(?P<opts>(?:\s+(?:INCLUDING|EXCLUDING)\s+\w+)*)\s*$",
                it,
                _re.I,
            )
            if lm is None:
                out.append(it.strip())
                continue
            changed = True
            src = lm.group(1)
            opts: dict[str, bool] = {}
            for om in _re.finditer(
                r"(INCLUDING|EXCLUDING)\s+(\w+)", lm.group("opts") or "",
                _re.I,
            ):
                opts[om.group(2).lower()] = (
                    om.group(1).upper() == "INCLUDING"
                )

            def inc(k: str) -> bool:
                return opts.get(k, opts.get("all", False))

            entry = self.catalog.get(src)
            try:
                rel = (
                    self.spark.table(src)
                    if entry is None
                    else self._live_read(entry)
                )
                schema = rel.schema
            except Exception:
                raise ValueError(
                    f'LIKE source relation "{src}" does not exist'
                )
            not_null: set[str] = set()
            checks: list[str] = []
            keys: list[tuple[str, list[str]]] = []
            if entry is not None:
                for spec in (entry.constraints or {}).values():
                    if spec.get("kind") == "c":
                        nm = _re.match(
                            r"^\s*([A-Za-z_]\w*)\s+IS\s+NOT\s+NULL\s*$",
                            spec.get("expr") or "",
                            _re.I,
                        )
                        if nm:
                            not_null.add(nm.group(1).lower())
                        elif inc("constraints"):
                            checks.append(spec["expr"])
                    elif spec.get("kind") in ("p", "u"):
                        # PG's LIKE always copies the NOT NULL a
                        # PRIMARY KEY implies, even when the key
                        # constraint itself is not copied
                        if spec.get("kind") == "p":
                            not_null.update(
                                c.lower() for c in (spec.get("cols") or [])
                            )
                        if inc("indexes"):
                            keys.append(
                                (spec["kind"], list(spec.get("cols") or []))
                            )
            defaults = dict(
                (entry.defaults or {}) if entry and inc("defaults") else {}
            )
            gens = dict(
                (entry.generated or {})
                if entry and inc("generated")
                else {}
            )
            idents = dict(
                (entry.identity or {})
                if entry and inc("identity")
                else {}
            )
            for f in schema.fields:
                pg_t = _spark_to_pg_ddl(f.dataType.simpleString())
                if f.name in gens:
                    out.append(
                        f"{f.name} {pg_t} GENERATED ALWAYS AS "
                        f"({gens[f.name]}) STORED"
                    )
                    continue
                txt = f"{f.name} {pg_t}"
                if f.name in idents:
                    txt += " GENERATED BY DEFAULT AS IDENTITY"
                if f.name.lower() in not_null:
                    txt += " NOT NULL"
                if f.name in defaults and f.name not in idents:
                    txt += f" DEFAULT {defaults[f.name]}"
                out.append(txt)
            for expr in checks:
                out.append(f"CHECK ({expr})")
            for kind, cols in keys:
                head = "PRIMARY KEY" if kind == "p" else "UNIQUE"
                out.append(f"{head} ({', '.join(cols)})")
        if not changed:
            return query
        return (
            query[: open_idx + 1] + ", ".join(out) + query[e:]
        )

    def _register_information_schema(self, query: str) -> str:
        """information_schema.tables / .columns — the SQL-standard
        introspection surface every ORM/BI tool queries first
        (↔ PostgreSQL information_schema, inherited by the
        reference). Populated from the session catalog; types print
        with PG spellings; is_nullable reflects the NOT NULL CHECK
        constraints the DDL layer records."""
        import re as _re

        from citus_spark.plans.rewrites import _map_code

        ents = list(self.catalog.tables().values())
        if _re.search(
            r"\binformation_schema\s*\.\s*tables\b", query, _re.I
        ):
            rows = [
                ("citus", "public", t.name, "BASE TABLE") for t in ents
            ] + [
                ("citus", "public", n, "VIEW") for n in self._views
            ]
            self.spark.createDataFrame(
                rows or [("", "", "", "")],
                "table_catalog string, table_schema string, "
                "table_name string, table_type string",
            ).filter(F.col("table_name") != "").createOrReplaceTempView(
                "_info_schema_tables"
            )
        if _re.search(
            r"\binformation_schema\s*\.\s*columns\b", query, _re.I
        ):
            crows = []

            def _col_rows(rel_name, schema, not_null):
                import re as _re2

                for i, f in enumerate(schema.fields, start=1):
                    simple = f.dataType.simpleString()
                    dm = _re2.match(r"decimal\((\d+),(\d+)\)", simple)
                    crows.append((
                        "citus", "public", rel_name, f.name, i,
                        _pg_type_name(simple),
                        int(dm.group(1)) if dm else None,
                        int(dm.group(2)) if dm else None,
                        "NO" if f.name.lower() in not_null else "YES",
                    ))

            for t in ents:
                not_null = set()
                for spec in (t.constraints or {}).values():
                    m = _re.match(
                        r"^\s*([A-Za-z_]\w*)\s+IS\s+NOT\s+NULL\s*$",
                        spec.get("expr") or "",
                        _re.I,
                    )
                    if spec.get("kind") == "c" and m:
                        not_null.add(m.group(1).lower())
                    elif spec.get("kind") == "p":
                        # PRIMARY KEY columns report is_nullable='NO'
                        # in PG regardless of explicit NOT NULL
                        not_null.update(
                            c.lower() for c in (spec.get("cols") or [])
                        )
                try:
                    _col_rows(t.name, self._live_read(t).schema, not_null)
                except Exception:
                    continue
            # views are listed in information_schema.tables, so their
            # columns must resolve here too (PG does)
            for vn in self._views:
                try:
                    _col_rows(vn, self.spark.table(vn).schema, set())
                except Exception:
                    continue
            self.spark.createDataFrame(
                crows or [("", "", "", "", 0, "", None, None, "")],
                "table_catalog string, table_schema string, "
                "table_name string, column_name string, "
                "ordinal_position int, data_type string, "
                "numeric_precision int, numeric_scale int, "
                "is_nullable string",
            ).filter(F.col("table_name") != "").createOrReplaceTempView(
                "_info_schema_columns"
            )
        return _map_code(
            query,
            lambda c: _re.sub(
                r"\binformation_schema\s*\.\s*(tables|columns)\b",
                lambda m: f"_info_schema_{m.group(1).lower()}",
                c,
                flags=_re.I,
            ),
        )

    def _register_pg_dist_views(self, query: str) -> str:
        """The reference's own catalog tables, queryable verbatim
        (↔ pg_dist_partition.h / pg_dist_shard / pg_dist_colocation /
        pg_dist_node). partkey is the distribution column NAME (the
        reference stores a serialized Var node — the name is the
        useful projection of it); shard hash ranges are the uniform
        int32 split the reference computes in shardinterval_utils.c,
        which is also exactly how this engine's buckets hash."""
        import re as _re

        from citus_spark.plans.rewrites import _map_code

        method_char = {"hash": "h", "range": "r"}
        tabs = list(self.catalog.tables().values())
        if _re.search(r"\bpg_dist_partition\b", query, _re.I):
            rows = [
                (
                    t.name,
                    method_char.get(t.method, "n"),
                    t.dist_col,
                    int(t.colocation_id),
                    "t" if t.is_reference else "s",
                )
                for t in tabs
            ]
            self.spark.createDataFrame(
                rows or [("", "", None, 0, "")],
                "logicalrelid string, partmethod string, partkey string, "
                "colocationid int, repmodel string",
            ).filter(F.col("logicalrelid") != "").createOrReplaceTempView(
                "_pg_dist_partition"
            )
        if _re.search(r"\bpg_dist_shard\b", query, _re.I):
            rows = []
            next_shard_id = 102008
            for t in tabs:
                if t.is_hash_distributed:
                    # uniform int32 hash ranges, the reference's split;
                    # a range-split bucket shows its CHILDREN with
                    # their sub-ranges (the parent row is dropped,
                    # like the reference after SplitShard)
                    splits = getattr(t, "splits", None) or {}
                    span = 1 << 32
                    for b in range(t.buckets):
                        if b in splits:
                            for sid, lo, hi in splits[b]:
                                rows.append(
                                    (t.name, int(sid), "t", str(lo), str(hi))
                                )
                            continue
                        lo = -(1 << 31) + b * span // t.buckets
                        hi = -(1 << 31) + (b + 1) * span // t.buckets - 1
                        rows.append(
                            (t.name, next_shard_id + b, "t", str(lo), str(hi))
                        )
                    next_shard_id += t.buckets
                elif t.is_reference:
                    rows.append((t.name, next_shard_id, "t", None, None))
                    next_shard_id += 1
            self.spark.createDataFrame(
                rows or [("", 0, "", None, None)],
                "logicalrelid string, shardid long, shardstorage string, "
                "shardminvalue string, shardmaxvalue string",
            ).filter(F.col("logicalrelid") != "").createOrReplaceTempView(
                "_pg_dist_shard"
            )
        if _re.search(r"\bpg_dist_colocation\b", query, _re.I):
            seen: dict[int, tuple] = {}
            for t in tabs:
                if t.is_hash_distributed and t.colocation_id not in seen:
                    seen[t.colocation_id] = (
                        int(t.colocation_id),
                        int(t.buckets),
                        1,
                        str(dict(self.spark.table(t.name).dtypes).get(
                            t.dist_col
                        )),
                    )
            self.spark.createDataFrame(
                list(seen.values()) or [(0, 0, 0, "")],
                "colocationid int, shardcount int, replicationfactor int, "
                "distributioncolumntype string",
            ).filter(F.col("colocationid") != 0).createOrReplaceTempView(
                "_pg_dist_colocation"
            )
        if _re.search(r"\bpg_dist_placement\b", query, _re.I):
            from citus_spark import cluster

            cluster.pg_dist_placement_df(self).createOrReplaceTempView(
                "_pg_dist_placement"
            )
        if _re.search(r"\bpg_dist_rebalance_strategy\b", query, _re.I):
            from citus_spark import cluster

            cluster.pg_dist_rebalance_strategy_df(
                self
            ).createOrReplaceTempView("_pg_dist_rebalance_strategy")
        if _re.search(r"\bpg_dist_node\b", query, _re.I):
            rows = [
                (
                    n["nodeid"],
                    n["groupid"],
                    n["nodename"],
                    n["nodeport"],
                    n["noderole"],
                    n["isactive"],
                )
                for n in (getattr(self, "_nodes", []) or [])
            ]
            self.spark.createDataFrame(
                rows or [(0, 0, "", 0, "", False)],
                "nodeid int, groupid int, nodename string, nodeport int, "
                "noderole string, isactive boolean",
            ).filter(F.col("nodeid") != 0).createOrReplaceTempView(
                "_pg_dist_node"
            )

        def fix(code: str) -> str:
            return _re.sub(
                r"\b(?:pg_catalog\.)?pg_dist_(partition|shard|colocation"
                r"|node|placement|rebalance_strategy)\b",
                lambda m: f"_pg_dist_{m.group(1).lower()}",
                code,
                flags=_re.I,
            )

        return _map_code(query, fix)

    def _refresh_textual_views(self) -> None:
        """Re-register every textual CREATE VIEW in creation order
        (views over views resolve because dicts preserve insertion
        order). Registration is analysis-only — no job runs until a
        statement actually reads the view."""
        self._in_view_refresh = True
        try:
            for name, body in self._views.items():
                try:
                    self.sql(body).createOrReplaceTempView(name)
                except Exception:
                    # a base relation was dropped out from under the
                    # view: reading THE VIEW must fail loudly, but the
                    # session (including DROP VIEW itself) stays usable
                    self.spark.catalog.dropTempView(name)
        finally:
            self._in_view_refresh = False

    # -- sequences (plans/sequence_sql.py ↔ reference sequences.sql /
    # multi_sequence_default.sql regress) ------------------------------
    def _seq_name(self, name: str) -> str:
        """Resolve a user-spelled sequence name: schema-qualified
        spellings inside string literals ('sch.seq'::regclass) escape
        the statement-level mangling, so try the mangled form — and
        the bare form for public. (pg_dump fully qualifies EVERYTHING
        after set_config('search_path',''), while public-schema
        objects register bare here)."""
        if name in self._sequences:
            return name
        candidates = [name.replace(".", "__")]
        if name.lower().startswith("public."):
            candidates.append(name[len("public."):])
        for c in candidates:
            if c in self._sequences:
                return c
        return name

    def _seq_alloc(self, name: str, n: int = 1) -> int:
        """Reserve n values; returns the first. The block-allocation
        analog of the reference's coordinator handing workers disjoint
        sequence ranges."""
        from citus_spark.plans.sequence_sql import PG_SEQ_MAX, PG_SEQ_MIN

        st = self._sequences.get(self._seq_name(name))
        if st is None:
            raise ValueError(f'sequence "{name}" does not exist')
        base = st["next"]
        if n <= 0:
            return base  # empty draw: state unchanged
        inc = st["inc"]
        mn = st.get("min", PG_SEQ_MIN)
        mx = st.get("max", PG_SEQ_MAX)
        # single draws cycle like PG (exhausted → restart at min/max);
        # a multi-value BLOCK that would cross the boundary cannot be
        # handed out as one closed-form range — reject rather than
        # fabricate values (PG would error mid-statement without
        # CYCLE; with CYCLE the block form has no contiguous answer)
        if inc > 0 and base > mx:
            if not st.get("cycle"):
                raise ValueError(
                    f'nextval: reached maximum value of sequence '
                    f'"{name}" ({mx})'
                )
            base = mn
        elif inc < 0 and base < mn:
            if not st.get("cycle"):
                raise ValueError(
                    f'nextval: reached minimum value of sequence '
                    f'"{name}" ({mn})'
                )
            base = mx
        last = base + (n - 1) * inc
        if (inc > 0 and last > mx) or (inc < 0 and last < mn):
            if st.get("cycle"):
                raise NotImplementedError(
                    f'sequence "{name}": a {n}-value statement block '
                    "crosses the CYCLE boundary — block allocation "
                    "cannot wrap mid-statement"
                )
            raise ValueError(
                f'nextval: reached {"maximum" if inc > 0 else "minimum"} '
                f'value of sequence "{name}" '
                f'({mx if inc > 0 else mn})'
            )
        st["next"] = base + n * inc
        st["last"] = last
        return base

    def _execute_sequence_ddl(self, query: str):
        from citus_spark.plans.sequence_sql import (
            parse_alter_sequence,
            parse_create_sequence,
            parse_drop_sequence,
        )

        from citus_spark.plans.sequence_sql import seq_defaults

        cs = parse_create_sequence(query)
        if cs is not None:
            name, opts, ine = cs
            if name in self._sequences:
                if ine:
                    return self.spark.createDataFrame(
                        [("CREATE SEQUENCE skipped: exists",)],
                        "status string",
                    )
                raise ValueError(f'sequence "{name}" already exists')
            self._sequences[name] = seq_defaults(opts)
            self.stat_statements.record(query, None, executor="utility")
            return self.spark.createDataFrame(
                [("CREATE SEQUENCE",)], "status string"
            )
        ds = parse_drop_sequence(query)
        if ds is not None:
            name, ine = ds
            if name not in self._sequences:
                if ine:
                    return self.spark.createDataFrame(
                        [("DROP SEQUENCE skipped: unknown",)], "status string"
                    )
                raise ValueError(f'sequence "{name}" does not exist')
            self._sequences.pop(name)
            return self.spark.createDataFrame(
                [("DROP SEQUENCE",)], "status string"
            )
        al = parse_alter_sequence(query)
        if al is not None:
            name, opts = al
            if (
                name.split(".")[-1].lower() == "pg_dist_shardid_seq"
                and opts.get("restart") not in (None, "start")
            ):
                # the reference's internal shard-id sequence (regress
                # scripts RESTART it instead of SET citus.next_shard_id;
                # multi_schema_support.sql:4) — same recorded knob
                self.next_shard_id = int(opts["restart"])
                return self.spark.createDataFrame(
                    [("ALTER SEQUENCE",)], "status string"
                )
            st = self._sequences.get(self._seq_name(name))
            if st is None:
                raise ValueError(f'sequence "{name}" does not exist')
            from citus_spark.plans.sequence_sql import (
                _TYPE_BOUNDS,
                PG_SEQ_MAX,
                PG_SEQ_MIN,
            )

            # apply to a COPY, validate, then swap — a rejected ALTER
            # must leave the sequence untouched (PG atomicity)
            nw = dict(st)
            if "astype" in opts:
                # PG: AS <type> re-derives MIN/MAXVALUE iff the old
                # values sat at the old type's defaults
                old_tmin, old_tmax = _TYPE_BOUNDS[
                    nw.get("astype", "bigint")
                ]
                tmin, tmax = _TYPE_BOUNDS[opts["astype"]]
                asc = nw["inc"] > 0
                if nw.get("max") == (old_tmax if asc else -1):
                    nw["max"] = tmax if asc else -1
                if nw.get("min") == (1 if asc else old_tmin):
                    nw["min"] = 1 if asc else tmin
                nw["astype"] = opts["astype"]
            if "inc" in opts:
                nw["inc"] = opts["inc"]
            if "min" in opts:
                nw["min"] = (
                    opts["min"]
                    if opts["min"] is not None
                    else (1 if nw["inc"] > 0 else PG_SEQ_MIN)
                )
            if "max" in opts:
                nw["max"] = (
                    opts["max"]
                    if opts["max"] is not None
                    else (PG_SEQ_MAX if nw["inc"] > 0 else -1)
                )
            if "cycle" in opts:
                nw["cycle"] = opts["cycle"]
            if "start" in opts:
                # PG: START WITH in ALTER changes the REMEMBERED start
                # (what a bare RESTART returns to) without moving the
                # live counter
                nw["start"] = opts["start"]
            mn = nw.get("min", PG_SEQ_MIN)
            mx = nw.get("max", PG_SEQ_MAX)
            if mn > mx:
                raise ValueError(
                    f"MINVALUE ({mn}) must be no greater than "
                    f"MAXVALUE ({mx})"
                )
            tmin, tmax = _TYPE_BOUNDS[nw.get("astype", "bigint")]
            if not (tmin <= mn and mx <= tmax):
                raise ValueError(
                    f"MINVALUE/MAXVALUE ({mn}, {mx}) out of range for "
                    f"sequence type {nw.get('astype', 'bigint')}"
                )
            if "restart" in opts:
                target = (
                    nw.get("start", 1 if nw["inc"] > 0 else -1)
                    if opts["restart"] == "start"
                    else opts["restart"]
                )
                if target > mx:
                    raise ValueError(
                        f"RESTART value ({target}) cannot be greater "
                        f"than MAXVALUE ({mx})"
                    )
                if target < mn:
                    raise ValueError(
                        f"RESTART value ({target}) cannot be less "
                        f"than MINVALUE ({mn})"
                    )
                nw["next"] = target
                nw["last"] = None
            st.clear()
            st.update(nw)
            return self.spark.createDataFrame(
                [("ALTER SEQUENCE",)], "status string"
            )
        return None

    def _eval_sequence_calls(
        self, query: str, skip_nextval: bool = False
    ) -> str:
        """Coordinator evaluation of nextval/currval/setval with
        literal sequence names (↔ reference
        multi_function_evaluation.c — volatile functions evaluate on
        the coordinator before distribution). Each textual occurrence
        draws independently, so multi-row VALUES lists get distinct
        values. nextval in a FROM query is per-ROW semantics — that
        path allocates a distributed block instead (see
        _select_list_nextval) and is left untouched here."""
        import re as _re

        from citus_spark.plans.rewrites import _masked_spans
        from citus_spark.plans.sequence_sql import CURRVAL, NEXTVAL, SETVAL

        def sub_outside_literals(pattern, repl_fn, sql: str) -> str:
            """Like pattern.sub, but a match only fires when it STARTS
            in code (the sequence-name literal it consumes is part of
            the call — that's the point); matches that begin inside a
            string literal or comment are left alone."""
            spans = _masked_spans(sql)
            out, last = [], 0
            for m in pattern.finditer(sql):
                if any(a <= m.start() < b for a, b in spans):
                    continue
                out.append(sql[last : m.start()])
                out.append(repl_fn(m))
                last = m.end()
            out.append(sql[last:])
            return "".join(out)

        def do_setval(m: _re.Match) -> str:
            from citus_spark.plans.sequence_sql import (
                PG_SEQ_MAX,
                PG_SEQ_MIN,
            )

            seq, n = self._seq_name(m.group("seq")), int(m.group("n"))
            st = self._sequences.get(seq)
            if st is None:
                raise ValueError(f'sequence "{seq}" does not exist')
            mn = st.get("min", PG_SEQ_MIN)
            mx = st.get("max", PG_SEQ_MAX)
            if not mn <= n <= mx:
                raise ValueError(
                    f'setval: value {n} is out of bounds for sequence '
                    f'"{seq}" ({mn}..{mx})'
                )
            called = (m.group("called") or "true").lower() == "true"
            st["next"] = n + st["inc"] if called else n
            st["last"] = n if called else None
            return str(n)

        def do_currval(m: _re.Match) -> str:
            st = self._sequences.get(self._seq_name(m.group("seq")))
            if st is None:
                raise ValueError(
                    f'sequence "{m.group("seq")}" does not exist'
                )
            if st["last"] is None:
                raise ValueError(
                    f'currval of sequence "{m.group("seq")}" is not '
                    "yet defined in this session"
                )
            return str(st["last"])

        query = sub_outside_literals(SETVAL, do_setval, query)
        query = sub_outside_literals(CURRVAL, do_currval, query)
        # nextval only when the statement has no FROM clause
        # (VALUES rows / constant SELECT): per-occurrence draws
        if not skip_nextval and not _re.search(r"\bFROM\b", query, _re.I):
            query = sub_outside_literals(
                NEXTVAL,
                lambda m: str(self._seq_alloc(m.group("seq"))),
                query,
            )
        return query

    def _select_list_nextval(self, df_sql: str):
        """Split `nextval('s')` out of a top-level select list:
        → (sql_without_item, seq, alias, position) or None. Only a
        STANDALONE select-list item is claimed (nested uses would need
        per-row coordinator round-trips — rejected by the caller)."""
        import re as _re

        from citus_spark.plans.rewrites import (
            _code_iter,
            _masked_spans,
            _split_top_level,
        )
        from citus_spark.plans.sequence_sql import NEXTVAL

        spans = _masked_spans(df_sql)

        def in_code(pos: int) -> bool:
            return not any(a <= pos < b for a, b in spans)

        m_sel = _re.match(r"\s*SELECT\s+", df_sql, _re.I)
        if m_sel is None:
            return None
        depth = 0
        from_pos = len(df_sql)
        kw_from = _re.compile(r"\bFROM\b", _re.I)
        for j in _code_iter(df_sql, m_sel.end(), spans):
            c = df_sql[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif depth == 0 and c in "Ff" and kw_from.match(df_sql, j):
                from_pos = j
                break
        items = _split_top_level(df_sql[m_sel.end() : from_pos])
        for i, item in enumerate(items):
            m = _re.match(
                NEXTVAL.pattern + r"(?:\s+AS\s+([A-Za-z_]\w*))?\s*$",
                item,
                _re.I,
            )
            if m:
                alias = m.group(m.re.groups) or "nextval"
                rest = items[:i] + items[i + 1 :]
                sql2 = (
                    df_sql[: m_sel.end()]
                    + (", ".join(rest) if rest else "1 AS __citus_seq_dummy")
                    + " "
                    + df_sql[from_pos:]
                )
                return sql2, m.group("seq"), alias, i
        return None

    def _execute_modifying_cte(self, query: str):
        """Data-modifying CTEs — `WITH x AS (INSERT/UPDATE/DELETE ...
        RETURNING ...) <statement>` (↔ reference with_modifying.sql /
        with_dml.sql regress; Citus plans each modifying CTE as its
        own distributed modify). Each modifying CTE executes through
        the session's DML executors (RETURNING rows are staged to
        parquet BEFORE the copy-on-write swap) and registers as a
        temp view; non-modifying CTEs stay in the remaining text.
        DIVERGENCE (documented): PG runs all sub-statements against
        one snapshot — here they execute in declaration order, so a
        later CTE reading a table an earlier one modified sees the
        modification. Returns None when no CTE is modifying."""
        import re as _re

        from citus_spark.plans.rewrites import _masked_spans

        if not _re.match(r"\s*WITH\b", query, _re.I):
            return None
        if not _re.search(r"\b(INSERT|UPDATE|DELETE)\b", query, _re.I):
            return None
        spans = _masked_spans(query)

        def in_code(p: int) -> bool:
            return not any(a <= p < b for a, b in spans)

        head = _re.match(r"\s*WITH\s+", query, _re.I)
        pos = head.end()
        ctes: list[tuple[str, str, bool]] = []  # (name, body, modifying)
        while True:
            nm = _re.match(
                r"([A-Za-z_]\w*)\s+AS\s*(?:MATERIALIZED\s*)?\(",
                query[pos:],
                _re.I,
            )
            if nm is None:
                return None  # column-alias lists etc. — not ours
            body_open = pos + nm.end() - 1
            depth, i = 0, body_open
            while i < len(query):
                if in_code(i):
                    if query[i] == "(":
                        depth += 1
                    elif query[i] == ")":
                        depth -= 1
                        if depth == 0:
                            break
                i += 1
            if depth != 0:
                raise ValueError("unbalanced parentheses in WITH list")
            body = query[body_open + 1 : i]
            modifying = bool(
                _re.match(r"\s*(INSERT|UPDATE|DELETE)\b", body, _re.I)
            )
            ctes.append((nm.group(1), body, modifying))
            after = _re.match(r"\s*,\s*", query[i + 1 :])
            if after:
                pos = i + 1 + after.end()
                continue
            rest = query[i + 1 :]
            break
        if not any(mod for _, _, mod in ctes):
            return None
        registered: list[str] = []
        try:
            for name, body, modifying in ctes:
                if not modifying:
                    # register plain CTEs too: a LATER modifying body
                    # may reference them (WITH src AS (SELECT..),
                    # moved AS (INSERT .. SELECT FROM src ..))
                    self.sql(body).createOrReplaceTempView(name)
                    registered.append(name)
                    continue
                res = self.sql(body)
                if _re.search(r"\bRETURNING\b", body, _re.I):
                    res.createOrReplaceTempView(name)
                    registered.append(name)
            out = self.sql(rest)
        finally:
            # the CTE names are statement-scoped — drop them so they
            # don't shadow relations in later statements (the returned
            # DataFrame's plan is already resolved)
            for name in registered:
                self.spark.catalog.dropTempView(name)
        return out

    def _execute_nextval_select(self, query: str) -> DataFrame:
        """SELECT with nextval('s') over a FROM clause: per-row
        semantics via distributed block allocation — one reservation
        driver-side, offsets from the two-phase prefix sum (never a
        global-sort window)."""
        split = self._select_list_nextval(query)
        if split is None:
            raise ValueError(
                "nextval over a FROM query is supported only as a "
                "standalone top-level select-list item"
            )
        sql2, seq, alias, pos = split
        seq = self._seq_name(seq)
        st = self._sequences.get(seq)
        if st is None:
            raise ValueError(f'sequence "{seq}" does not exist')
        from citus_spark.operators.sequence import with_sequence_values

        out = with_sequence_values(
            self.sql(sql2),
            lambda n: self._seq_alloc(seq, n),
            st["inc"],
            alias,
        )
        if "__citus_seq_dummy" in out.columns:
            out = out.drop("__citus_seq_dummy")
        cols = [c for c in out.columns if c != alias]
        cols.insert(pos, alias)
        return out.select(*cols)

    def _nextval_occurrences(self, expr: str):
        """nextval('s') matches that start in code (a match inside a
        string literal is data) → [(start, end, seq), ...]."""
        from citus_spark.plans.rewrites import _masked_spans
        from citus_spark.plans.sequence_sql import NEXTVAL

        spans = _masked_spans(expr)
        return [
            (m.start(), m.end(), m.group("seq"))
            for m in NEXTVAL.finditer(expr)
            if not any(a <= m.start() < b for a, b in spans)
        ]

    def _execute_view_ddl(self, query: str):
        """Textual view DDL (↔ reference multi_view.sql /
        materialized_view.sql). CREATE VIEW stores the defining SQL
        and registers a late-bound temp view; CREATE MATERIALIZED
        VIEW runs the query ONCE into parquet (WITH NO DATA defers
        the run — the view errors until REFRESH, like PG's
        unpopulated state); REFRESH re-runs into a fresh path and
        swaps (copy-on-write — concurrent readers of the old snapshot
        are unaffected, the CONCURRENTLY analog)."""
        from citus_spark.plans.ddl_sql import (
            parse_create_view,
            parse_drop_view,
            parse_refresh_matview,
        )

        cv = parse_create_view(query)
        if cv is not None:
            name, or_replace, mat, body, no_data = cv
            exists = name in self._views or name in self._matviews
            if exists and not or_replace:
                raise ValueError(f'relation "{name}" already exists')
            if self.catalog.get(name) is not None:
                raise ValueError(
                    f'"{name}" is a table — cannot create a view over it'
                )
            if mat:
                path = os.path.join(
                    tempfile.gettempdir(),
                    f"citus_spark_mv_{name}_{os.getpid()}",
                )
                self._matviews[name] = (body, path)
                if no_data:
                    # unpopulated: reading must fail until REFRESH
                    self.spark.catalog.dropTempView(name)
                else:
                    self._refresh_matview(name)
                tag = "CREATE MATERIALIZED VIEW"
            else:
                self._views[name] = body
                self.sql(body).createOrReplaceTempView(name)
                tag = "CREATE VIEW"
            self.stat_statements.record(query, None, executor="utility")
            return self.spark.createDataFrame([(tag,)], "status string")
        rm = parse_refresh_matview(query)
        if rm is not None:
            if rm not in self._matviews:
                raise ValueError(f'"{rm}" is not a materialized view')
            self._refresh_matview(rm)
            self.stat_statements.record(query, None, executor="utility")
            return self.spark.createDataFrame(
                [("REFRESH MATERIALIZED VIEW",)], "status string"
            )
        dv = parse_drop_view(query)
        if dv is not None:
            name, if_exists, mat = dv
            store = self._matviews if mat else self._views
            if name not in store:
                if if_exists:
                    return self.spark.createDataFrame(
                        [("DROP VIEW skipped: unknown",)], "status string"
                    )
                kind = "materialized view" if mat else "view"
                raise ValueError(f'{kind} "{name}" does not exist')
            store.pop(name)
            self.spark.catalog.dropTempView(name)
            self.stat_statements.record(query, None, executor="utility")
            return self.spark.createDataFrame(
                [("DROP VIEW",)], "status string"
            )
        return None

    def _refresh_matview(self, name: str) -> None:
        import uuid as _uuid

        body, base = self._matviews[name]
        path = f"{base}_{_uuid.uuid4().hex[:8]}"
        self.sql(body).write.mode("overwrite").parquet(path)
        self._matviews[name] = (body, base)
        self.spark.read.parquet(path).createOrReplaceTempView(name)

    def _udt_spark_types(self) -> dict[str, str]:
        """Registered type name → Spark storage type, for
        parse_create_table's column mapping."""
        return {n: t["spark"] for n, t in self._types.items()}

    def _resolve_type(self, name: str) -> dict | None:
        n = name.lower()
        t = self._types.get(n) or self._types.get(n.replace("__", "."))
        if t is not None:
            return t
        tail = n.split(".")[-1].split("__")[-1]
        return self._types.get(tail)

    def _enum_cols_for_statement(
        self, query: str
    ) -> tuple[dict[str, list], set[str]]:
        """Enum-typed columns of the tables THIS statement references
        (word-boundary, literal-masked table-name match) → their label
        lists, plus the set of CONFLICTED column names (same name
        bound to different label sets by two referenced tables — the
        rewrite raises only if the statement actually orders/compares
        one; review fix: an unrelated cross join must not error).
        Columns reached only through views are not rewritten (equality
        still works; ordering reverts to lexical — documented
        divergence)."""
        import re

        from citus_spark.plans.rewrites import _masked_spans

        spans = _masked_spans(query)
        out: dict[str, list] = {}
        conflicts: set[str] = set()
        referenced = []
        for entry in self.catalog.tables().values():
            hit = any(
                not any(a <= m.start() < b for a, b in spans)
                for m in re.finditer(
                    rf"(?<![\w.]){re.escape(entry.name)}(?![\w])",
                    query,
                    re.I,
                )
            )
            if hit:
                referenced.append(entry)
        for entry in referenced:
            for col, tname in (entry.enum_cols or {}).items():
                t = self._resolve_type(tname)
                if t is None:
                    continue
                prev = out.get(col.lower())
                if prev is not None and list(prev) != list(t["labels"]):
                    conflicts.add(col.lower())
                    continue
                out[col.lower()] = t["labels"]
        # enum-vs-PLAIN shadowing (r9 ADVICE #2): another referenced
        # table carrying a same-named NON-enum column makes the bare
        # name ambiguous — `b.status > 'x'` would be rewritten with
        # the enum's labels and produce a spurious invalid-label error
        # or a wrong rank comparison. Flag it conflicted (the rewrite
        # raises only if the statement actually orders/compares it).
        if out:
            for entry in referenced:
                enum_here = {c.lower() for c in (entry.enum_cols or {})}
                try:
                    cols = {
                        c.lower() for c in self.spark.table(entry.name).columns
                    }
                except Exception:
                    continue
                for col in list(out):
                    if col in cols and col not in enum_here:
                        conflicts.add(col)
        for c in conflicts:
            out.pop(c, None)
        return out, conflicts

    def _refresh_enum_checks(self, t: dict) -> None:
        """ALTER TYPE ADD/RENAME VALUE: every table column of this
        enum type carries an auto CHECK on the label set — rewrite
        those constraint expressions to the new set."""
        import re

        quoted = ", ".join(
            "'" + l.replace("'", "''") + "'" for l in t["labels"]
        )
        for entry in self.catalog.tables().values():
            for col, tname in (entry.enum_cols or {}).items():
                if self._resolve_type(tname) is not t:
                    continue
                for spec in (entry.constraints or {}).values():
                    expr = spec.get("expr") or ""
                    if spec.get("kind") == "c" and re.match(
                        rf"^\s*{re.escape(col)}\s+IN\s*\(", expr, re.I
                    ):
                        spec["expr"] = f"{col} IN ({quoted})"

    def _execute_type_ddl(self, query: str):
        """CREATE/ALTER/DROP TYPE, CREATE/DROP DOMAIN, CREATE/DROP
        PROCEDURE, CALL (plans/type_sql.py). None = not a type-system
        statement."""
        import re as _re

        if not _re.match(
            r"\s*(CREATE\s+(?:OR\s+REPLACE\s+)?(TYPE|DOMAIN|PROCEDURE)"
            r"|ALTER\s+TYPE|DROP\s+(TYPE|DOMAIN|PROCEDURE)|CALL)\b",
            query,
            _re.I,
        ):
            return None
        from citus_spark.plans import type_sql as _ts
        from citus_spark.plans.ddl_sql import _map_type

        def status(tag: str):
            self.stat_statements.record(query, None, executor="utility")
            return self.spark.createDataFrame([(tag,)], "status string")

        created = _ts.parse_create_type(query)
        if created is not None:
            kind, name, payload = created
            key = name.lower()
            if key in self._types:
                raise ValueError(f'type "{name}" already exists')
            if kind == "enum":
                self._types[key] = {
                    "kind": "enum", "name": key,
                    "labels": list(payload), "spark": "string",
                }
            else:
                udts = self._udt_spark_types()
                fields = [
                    (fn, _map_type(ft, udts)) for fn, ft in payload
                ]
                spark = (
                    "struct<"
                    + ",".join(f"{fn}:{ft}" for fn, ft in fields)
                    + ">"
                )
                self._types[key] = {
                    "kind": "composite", "name": key,
                    "fields": fields, "spark": spark,
                }
            return status("CREATE TYPE")
        dom = _ts.parse_create_domain(query)
        if dom is not None:
            name, base, default, not_null, checks = dom
            key = name.lower()
            if key in self._types:
                raise ValueError(f'type "{name}" already exists')
            self._types[key] = {
                "kind": "domain", "name": key,
                "spark": _map_type(base, self._udt_spark_types()),
                "base": base, "default": default,
                "not_null": not_null, "checks": checks,
            }
            return status("CREATE DOMAIN")
        alt = _ts.parse_alter_type(query)
        if alt is not None:
            name, act = alt
            t = self._resolve_type(name)
            if t is None:
                raise ValueError(f'type "{name}" does not exist')
            op = act["op"]
            if op == "noop":
                return status(f"{act['tag']} accepted (no-op)")
            if op in ("rename", "set_schema"):
                new_name = (
                    act["to"].lower()
                    if op == "rename"
                    else f"{act['schema'].lower()}."
                    f"{t['name'].split('.')[-1]}"
                )
                # re-tag table columns recorded under the old name —
                # they must keep following the type through later
                # ADD/RENAME VALUE statements
                for entry in self.catalog.tables().values():
                    for col, tn in list((entry.enum_cols or {}).items()):
                        if self._resolve_type(tn) is t:
                            entry.enum_cols[col] = new_name
                self._types.pop(t["name"], None)
                t["name"] = new_name
                self._types[new_name] = t
                return status(
                    "ALTER TYPE RENAME"
                    if op == "rename"
                    else "ALTER TYPE SET SCHEMA"
                )
            if t["kind"] != "enum":
                raise ValueError(
                    f'type "{name}" is not an enum'
                )
            if op == "add_value":
                if act["label"] in t["labels"]:
                    if act["if_not_exists"]:
                        return status("ALTER TYPE ADD VALUE skipped")
                    raise ValueError(
                        f'enum label "{act["label"]}" already exists'
                    )
                labels = t["labels"]  # mutate in place — shared with
                # _enum_columns so the ordering rewrite follows
                if act["ref"] is not None:
                    if act["ref"] not in labels:
                        raise ValueError(
                            f'enum label "{act["ref"]}" does not exist'
                        )
                    i = labels.index(act["ref"])
                    labels.insert(
                        i if act["where"] == "before" else i + 1,
                        act["label"],
                    )
                else:
                    labels.append(act["label"])
                self._refresh_enum_checks(t)
                return status("ALTER TYPE ADD VALUE")
            if op == "rename_value":
                if act["from"] not in t["labels"]:
                    raise ValueError(
                        f'enum label "{act["from"]}" does not exist'
                    )
                if act["to"] in t["labels"]:
                    raise ValueError(
                        f'enum label "{act["to"]}" already exists'
                    )
                t["labels"][t["labels"].index(act["from"])] = act["to"]
                self._refresh_enum_checks(t)
                # stored rows carry the label text — rewrite them (PG
                # stores enum oids, so its rename is implicitly
                # retroactive; ours must be explicit)
                old = act["from"].replace("'", "''")
                new = act["to"].replace("'", "''")
                for entry in self.catalog.tables().values():
                    for col, tname in (entry.enum_cols or {}).items():
                        if self._resolve_type(tname) is t:
                            self.sql(
                                f"UPDATE {entry.name} SET {col} = "
                                f"'{new}' WHERE {col} = '{old}'"
                            )
                return status("ALTER TYPE RENAME VALUE")
        dropped = _ts.parse_drop_type(query)
        if dropped is not None:
            what, names, ine = dropped
            for n in names:
                t = self._resolve_type(n)
                if t is None or (
                    what == "domain"
                ) != (t["kind"] == "domain"):
                    if ine:
                        continue
                    raise ValueError(f'{what} "{n}" does not exist')
                # PG RESTRICT: a type with dependent table columns
                # cannot be dropped (review fix: dropping it left the
                # ordering rewrite reading a dead label set)
                for entry in self.catalog.tables().values():
                    for col, tname in (entry.enum_cols or {}).items():
                        if self._resolve_type(tname) is t:
                            raise ValueError(
                                f'cannot drop {what} "{n}" because '
                                f'column "{col}" of table '
                                f'"{entry.name}" requires it'
                            )
                self._types.pop(t["name"], None)
            return status(f"DROP {what.upper()}")
        proc = _ts.parse_create_procedure(query)
        if proc is not None:
            name, params, language, stmts = proc
            replace = bool(
                _re.match(r"\s*CREATE\s+OR\s+REPLACE\b", query, _re.I)
            )
            key = name.lower()
            if key in self._procedures and not replace:
                raise ValueError(f'procedure "{name}" already exists')
            self._procedures[key] = {
                "params": params, "language": language, "stmts": stmts,
            }
            return status("CREATE PROCEDURE")
        dproc = _ts.parse_drop_procedure(query)
        if dproc is not None:
            name, ine = dproc
            key = name.lower().split(".")[-1]
            hit = (
                name.lower() if name.lower() in self._procedures else key
            )
            if hit not in self._procedures:
                if ine:
                    return status("DROP PROCEDURE skipped")
                raise ValueError(f'procedure "{name}" does not exist')
            del self._procedures[hit]
            return status("DROP PROCEDURE")
        call = _ts.parse_call(query)
        if call is not None:
            name, args = call
            key = name.lower()
            p = self._procedures.get(key) or self._procedures.get(
                key.split(".")[-1].split("__")[-1]
            )
            if p is None:
                from citus_spark.plans.mgmt_sql import _FNS

                if key.split(".")[-1] in _FNS:
                    # built-in management procedure (CALL
                    # drop_old_time_partitions, ..) — the mgmt
                    # executor owns it
                    return None
                raise ValueError(f'procedure "{name}" does not exist')
            if len(args) != len(p["params"]):
                raise ValueError(
                    f'procedure "{name}" expects {len(p["params"])} '
                    f"arguments, got {len(args)}"
                )
            pnames = [pn for pn, _ in p["params"]]
            # validate transaction control BEFORE executing anything:
            # PG fails the whole CALL, leaving no side effects — an
            # autocommit engine can only match that by rejecting
            # upfront, never mid-body
            tx_heads = [
                st.strip().rstrip(";").strip().upper()
                for st in p["stmts"]
            ]
            for head in tx_heads:
                if head in ("COMMIT", "ROLLBACK", "COMMIT WORK",
                            "ROLLBACK WORK"):
                    if p["language"] == "sql":
                        # PG: transaction control is invalid in a
                        # LANGUAGE SQL procedure — CALL fails
                        raise ValueError(
                            "invalid transaction termination: "
                            f"{head} is not allowed in a SQL procedure"
                        )
                    if head.startswith("ROLLBACK"):
                        raise NotImplementedError(
                            "ROLLBACK inside a procedure is not "
                            "supported (autocommit engine — prior "
                            "statements are already durable)"
                        )
            for stmt, head in zip(p["stmts"], tx_heads):
                if head in ("COMMIT", "COMMIT WORK"):
                    continue  # plpgsql COMMIT: already committed
                self.sql(_ts.substitute_params(stmt, pnames, args))
            return status("CALL")
        return None

    def _execute_ddl(self, query: str):
        """Textual DDL (plans/ddl_sql.py): CREATE TABLE materializes
        an empty writable relation with the PG column types mapped to
        Spark's; DROP TABLE retires catalog tables; CREATE EXTENSION /
        CREATE INDEX / BEGIN / COMMIT / ROLLBACK are accepted as
        no-ops so reference tutorials run verbatim from their first
        statement. None = not DDL (or a DROP of a non-catalog table —
        Spark's own handling takes those)."""
        hook = self._execute_perimeter_ddl(query)
        if hook is not None:
            return hook
        typed = self._execute_type_ddl(query)
        if typed is not None:
            return typed
        schema = self._execute_schema_ddl(query)
        if schema is not None:
            return schema
        view = self._execute_view_ddl(query)
        if view is not None:
            return view
        seq = self._execute_sequence_ddl(query)
        if seq is not None:
            return seq
        from citus_spark.plans.function_sql import (
            parse_create_function,
            parse_drop_function,
        )

        fn = parse_create_function(query)
        if fn is not None:
            ddl, name, _ = fn
            self.spark.sql(ddl)
            self.stat_statements.record(query, None, executor="utility")
            return self.spark.createDataFrame(
                [("CREATE FUNCTION",)], "status string"
            )
        dfn = parse_drop_function(query)
        if dfn is not None:
            name, ine = dfn
            # trigger functions were recorded, not registered with
            # Spark (they only ever run FROM a trigger, and triggers
            # are no-ops here) — a pg_restore --clean replay drops
            # them, so pop the record instead of issuing Spark DDL
            # that would error 'function does not exist'
            from citus_spark.plans.trigger_sql import _unquote as _tq

            dropped = _tq(name)
            recs = getattr(self, "_triggers", {})
            tkeys = [k for k in recs if k[0] == "" and k[1] == dropped]
            if not tkeys:
                # qualification mismatch between CREATE and DROP:
                # match on the bare name only when one side is
                # unqualified (never cross two different schemas)
                tkeys = [
                    k for k in recs
                    if k[0] == ""
                    and k[1].split(".")[-1] == dropped.split(".")[-1]
                    and ("." not in k[1] or "." not in dropped)
                ]
            if len(tkeys) > 1:
                # several schemas hold the same bare name: resolve the
                # way PG's search_path would (current schema, then
                # public); popping them all would drop functions the
                # statement never named (review fix)
                cur = self._current_schema()
                pref = [
                    k for k in tkeys
                    if k[1] in (dropped, f"{cur}.{dropped}",
                                f"public.{dropped}")
                ]
                if len(pref) == 1:
                    tkeys = pref
                else:
                    raise ValueError(
                        f'function name "{dropped}" is not unique'
                    )
            if tkeys:
                for k in tkeys:
                    self._triggers.pop(k)
                return self.spark.createDataFrame(
                    [("DROP FUNCTION (recorded trigger function)",)],
                    "status string",
                )
            self.spark.sql(
                f"DROP TEMPORARY FUNCTION {'IF EXISTS ' if ine else ''}{name}"
            )
            return self.spark.createDataFrame(
                [("DROP FUNCTION",)], "status string"
            )
        from citus_spark.plans.ddl_sql import (
            parse_create_table,
            parse_drop_table,
            parse_noop,
        )

        tag = parse_noop(query)
        if tag is not None:
            self.stat_statements.record(query, None, executor="utility")
            return self.spark.createDataFrame(
                [(f"{tag} accepted (no-op in this engine)",)],
                "status string",
            )
        from citus_spark.plans.ddl_sql import (
            parse_attach_partition,
            parse_create_partition_of,
            parse_detach_partition,
        )

        pof = parse_create_partition_of(query)
        if pof is not None:
            return self._create_partition_of(query, *pof)
        att = parse_attach_partition(query)
        if att is not None:
            return self._attach_partition(query, *att)
        det = parse_detach_partition(query)
        if det is not None:
            return self._detach_partition(query, *det)
        import re as _re

        if _re.search(r"\bLIKE\b", query, _re.I) and _re.match(
            r"\s*CREATE\s+(?:(?:GLOBAL\s+|LOCAL\s+)?TEMP(?:ORARY)?\s+"
            r"|UNLOGGED\s+)?TABLE\b",
            query,
            _re.I,
        ):
            query = self._expand_create_like(query)
        enum_cols: dict[str, str] = {}
        if self._types:
            from citus_spark.plans.type_sql import expand_udt_columns

            query, enum_cols = expand_udt_columns(query, self._types)
        created = parse_create_table(
            query, self._udt_spark_types() or None
        )
        if created is not None:
            (
                name, ddl_schema, if_not_exists, identities, con_ops,
                defaults, generated, partition_by,
            ) = created
            if self.catalog.get(name) is not None:
                if if_not_exists:
                    return self.spark.createDataFrame(
                        [("CREATE TABLE skipped: exists",)], "status string"
                    )
                raise ValueError(f'relation "{name}" already exists')
            import uuid as _uuid

            path = os.path.join(
                tempfile.gettempdir(),
                f"citus_spark_tbl_{name}_{os.getpid()}_{_uuid.uuid4().hex[:8]}",
            )
            empty = self.spark.createDataFrame([], ddl_schema)
            if generated:
                # analyze each expression against the empty relation —
                # a typo'd base column must fail HERE, before anything
                # is registered or written (CREATE is atomic in PG; a
                # phantom half-created table would block the retry)
                for c, gexpr in generated.items():
                    try:
                        empty.select(F.expr(gexpr))
                    except Exception as e:
                        raise ValueError(
                            f"generated column {c!r} expression "
                            f"{gexpr!r} does not resolve: {e}"
                        ) from e
            empty.write.mode("overwrite").parquet(path)
            self.spark.read.parquet(path).createOrReplaceTempView(name)
            entry = self.catalog.register(name, "none", path=path)
            if "." not in name:
                # a bare CREATE under SET search_path TO sch places
                # the relation in sch (PG resolution) — record the
                # membership so qualified sch.{name} resolves later
                cur = self._current_schema()
                if cur in self._schemas:
                    self._schema_members.add((cur, name.lower()))
            if enum_cols:
                entry.enum_cols = dict(enum_cols)
            if partition_by is not None:
                entry.partition_by = partition_by
                entry.partitions = {}
                # the FROM ONLY surface (parent's own, always-empty
                # relation) registers alongside
                self.spark.read.parquet(path).createOrReplaceTempView(
                    f"{name}__only"
                )
            if defaults:
                entry.defaults = defaults
            if generated:
                entry.generated = generated
            if identities:
                # serial / IDENTITY / DEFAULT nextval: bind each column
                # to its session sequence, PG-style. Implicit sequences
                # (serial/IDENTITY) are OWNED — dropped with the table
                # and honoring START WITH / INCREMENT BY; an explicit
                # DEFAULT nextval('s') sequence is independent.
                from citus_spark.plans.sequence_sql import (
                    seq_defaults as _seq_defaults,
                )

                ident_map: dict[str, str] = {}
                for col, seqname, seq_opts in identities:
                    if seqname is None:
                        seqname = f"{name}_{col}_seq"
                        self._sequences[seqname] = _seq_defaults(seq_opts)
                        self._owned_seqs.add(seqname)
                    elif seqname not in self._sequences:
                        raise ValueError(
                            f'sequence "{seqname}" does not exist'
                        )
                    ident_map[col] = seqname
                entry.identity = ident_map
            if con_ops:
                # inline PK/UNIQUE/FK/CHECK register through the same
                # executor ALTER TABLE ADD CONSTRAINT uses (validation
                # over the empty relation is trivially green). A
                # failing constraint rolls the whole CREATE back (PG
                # is atomic here — a half-created table would block
                # the corrected retry with "already exists")
                from citus_spark.plans import constraints as _cons

                try:
                    for op in con_ops:
                        _cons.apply_alter(
                            self, entry, name, op, assume_empty=True
                        )
                except Exception:
                    for seq in (entry.identity or {}).values():
                        if seq in self._owned_seqs:
                            self._sequences.pop(seq, None)
                            self._owned_seqs.discard(seq)
                    self.catalog.unregister(name)
                    self.spark.catalog.dropTempView(name)
                    import shutil

                    shutil.rmtree(path, ignore_errors=True)
                    raise
            self.stat_statements.record(query, None, executor="utility")
            return self.spark.createDataFrame(
                [("CREATE TABLE",)], "status string"
            )
        from citus_spark.plans.ddl_sql import parse_alter_table

        altered = (
            parse_alter_table(query, self._udt_spark_types() or None)
            if query.lstrip()[:11].upper().startswith("ALTER TABLE")
            else None
        )
        if altered is not None:
            name, op = altered
            entry = self.catalog.get(name)
            if entry is None:
                return None  # not ours — Spark may own the relation
            from citus_spark.plans import constraints as _cons

            con_tag = _cons.apply_alter(self, entry, name, op)
            if con_tag is not None:
                # constraint actions validate distributedly but never
                # rewrite storage — no writable-fixture guard needed
                self.stat_statements.record(query, None, executor="utility")
                return self.spark.createDataFrame(
                    [(con_tag,)], "status string"
                )
            if op[0] == "noop_metadata":
                # ownership/storage knobs: accepted-and-recorded, no
                # relation rewrite (see ddl_sql.parse_alter_table)
                self.stat_statements.record(
                    query, None, executor="utility"
                )
                return self.spark.createDataFrame(
                    [("ALTER TABLE",)], "status string"
                )
            if op[0] not in (
                "rename_table", "set_default", "drop_default",
                "set_not_null", "drop_not_null",
            ):
                # column changes rewrite storage — fixture guard applies
                entry = self._writable_entry(name, "ALTER TABLE")
            cur = self._live_read(entry)
            if op[0] in (
                "set_default", "drop_default", "set_not_null",
                "drop_not_null",
            ):
                return self._alter_column_metadata(
                    entry, name, op, cur, query
                )
            if op[0] == "add":
                if op[1] in cur.columns:
                    raise ValueError(f'column "{op[1]}" already exists')
                # DEFAULT back-fills existing rows (PG semantics)
                fill = (
                    F.expr(op[3]) if op[3] is not None else F.lit(None)
                )
                new = cur.withColumn(op[1], fill.cast(op[2]))
                if op[3] is not None:
                    entry.defaults = {**(entry.defaults or {}), op[1]: op[3]}
                # an enum-typed added column carries the same label
                # CHECK + ordering registration CREATE TABLE gives
                tm = _re.search(
                    r"\bADD\s+(?:COLUMN\s+)?(?:IF\s+NOT\s+EXISTS\s+)?"
                    r"\w+\s+([\w.]+)",
                    query,
                    _re.I,
                )
                t_enum = (
                    self._resolve_type(tm.group(1)) if tm else None
                )
                if t_enum is not None and t_enum["kind"] == "enum":
                    entry.enum_cols = {
                        **(entry.enum_cols or {}),
                        op[1]: t_enum["name"],
                    }
                    quoted = ", ".join(
                        "'" + l.replace("'", "''") + "'"
                        for l in t_enum["labels"]
                    )
                    entry.constraints = {
                        **(entry.constraints or {}),
                        f"{name}_{op[1]}_check": {
                            "kind": "c",
                            "expr": f"{op[1]} IN ({quoted})",
                            "valid": True,
                        },
                    }
            elif op[0] == "add_generated":
                if op[1] in cur.columns:
                    raise ValueError(f'column "{op[1]}" already exists')
                from citus_spark.plans.ddl_sql import (
                    check_generated_refs,
                )

                check_generated_refs(
                    {**(entry.generated or {}), op[1]: op[3]},
                    op[1],
                    op[3],
                )
                try:
                    fill = F.expr(op[3]).cast(op[2])
                    new = cur.withColumn(op[1], fill)
                except Exception as e:
                    raise ValueError(
                        f"generated column {op[1]!r} expression "
                        f"{op[3]!r} does not resolve: {e}"
                    ) from e
                entry.generated = {
                    **(entry.generated or {}), op[1]: op[3],
                }
            elif op[0] in ("drop", "drop_if_exists"):
                if op[1] not in cur.columns:
                    if op[0] == "drop_if_exists":
                        self.stat_statements.record(
                            query, None, executor="utility"
                        )
                        return self.spark.createDataFrame(
                            [("ALTER TABLE",)], "status string"
                        )
                    raise ValueError(f'column "{op[1]}" does not exist')
                # external dependents veto FIRST (guard_column_change
                # then auto-drops same-table constraints, PG-style)
                _cons.guard_parent_column_change(self, name, op[1])
                _cons.guard_column_change(entry, name, op[1])
                self._guard_generated_change(entry, name, op[1])
                if entry.defaults:
                    entry.defaults.pop(op[1], None)
                if entry.generated:
                    entry.generated.pop(op[1], None)
                if entry.enum_cols:
                    # a dropped enum column no longer pins its type
                    # (DROP TYPE RESTRICT) nor drives the ordering
                    # rewrite (review fix)
                    entry.enum_cols.pop(op[1], None)
                new = cur.drop(op[1])
            elif op[0] == "rename_col":
                if op[1] not in cur.columns:
                    raise ValueError(f'column "{op[1]}" does not exist')
                if entry.enum_cols and op[1] in entry.enum_cols:
                    # the enum label CHECK is engine-generated — it
                    # follows the rename instead of vetoing it (PG
                    # constraints reference columns by number, not
                    # text, so a rename never blocks there)
                    for spec in (entry.constraints or {}).values():
                        expr = spec.get("expr") or ""
                        if spec.get("kind") == "c" and _re.match(
                            rf"^\s*{_re.escape(op[1])}\s+IN\s*\(",
                            expr,
                            _re.I,
                        ):
                            spec["expr"] = _re.sub(
                                rf"^\s*{_re.escape(op[1])}\b",
                                op[2],
                                expr,
                                count=1,
                            )
                _cons.guard_column_change(entry, name, op[1], op[2])
                _cons.guard_parent_column_change(self, name, op[1], op[2])
                self._guard_generated_change(
                    entry, name, op[1], renamed_to=op[2]
                )
                if entry.defaults and op[1] in entry.defaults:
                    entry.defaults[op[2]] = entry.defaults.pop(op[1])
                if entry.generated and op[1] in entry.generated:
                    entry.generated[op[2]] = entry.generated.pop(op[1])
                if entry.enum_cols and op[1] in entry.enum_cols:
                    entry.enum_cols[op[2]] = entry.enum_cols.pop(op[1])
                new = cur.withColumnRenamed(op[1], op[2])
            elif op[0] == "alter_type":
                # ALTER COLUMN .. TYPE [USING expr] — ↔ reference
                # commands/alter_table.c; a rewrite-with-cast through
                # the same copy-on-write path DML uses, with constraint
                # re-validation over the new image (a narrowing cast
                # can break a CHECK; PG re-verifies too)
                _, colname, new_type, using = op
                if colname not in cur.columns:
                    raise ValueError(f'column "{colname}" does not exist')
                if entry.is_hash_distributed and colname == entry.dist_col:
                    # ↔ reference alter_table.c: the hash layout was
                    # built from the old type (hashing is
                    # type-sensitive) — re-typing the partition column
                    # would silently break colocation
                    raise ValueError(
                        "cannot execute ALTER TABLE command involving "
                        "partition column"
                    )
                if using is not None:
                    # USING evaluates the user's expression; an ANSI
                    # cast failure inside it errors like PG's would
                    expr = F.expr(using).cast(new_type)
                else:
                    # plain type change: try_cast + loss check, so a
                    # non-convertible value gets PG's "specify a
                    # USING expression" hint instead of a raw error
                    expr = F.expr(f"try_cast({colname} AS {new_type})")
                new = cur.select(
                    *[
                        expr.alias(c) if c == colname else F.col(c)
                        for c in cur.columns
                    ]
                )
                if using is None:
                    lost = new.filter(
                        F.col(colname).isNull()
                    ).count() - cur.filter(F.col(colname).isNull()).count()
                    if lost > 0:
                        raise ValueError(
                            f'column "{colname}" cannot be cast '
                            f"automatically to type {new_type} ({lost} "
                            "value(s) do not convert) — specify a USING "
                            "expression"
                        )
                for conname, spec in (entry.constraints or {}).items():
                    if spec["kind"] == "c" and _cons._check_violations(
                        new, spec["expr"]
                    ):
                        raise ValueError(
                            f'check constraint "{conname}" of relation '
                            f'"{name}" is violated by some row'
                        )
                    if spec["kind"] in ("p", "u") and colname in spec[
                        "cols"
                    ] and _cons._unique_violations(new, spec["cols"]):
                        raise ValueError(
                            f'could not create unique index "{conname}"'
                        )
                    if spec["kind"] == "x" and colname in spec[
                        "cols"
                    ] and _cons._exclude_violations(
                        new, spec["cols"], spec["ops"]
                    ):
                        raise ValueError(
                            "conflicting key value violates exclusion "
                            f'constraint "{conname}" after the type '
                            "change"
                        )
                    if spec["kind"] == "f" and colname in spec["cols"]:
                        pentry = self.catalog.get(spec["reftable"])
                        if pentry is not None and _cons._fk_violations(
                            new, spec["cols"],
                            self._live_read(pentry), spec["refcols"],
                            broadcast_parent=pentry.is_reference,
                        ):
                            raise ValueError(
                                f'insert or update on table "{name}" '
                                "violates foreign key constraint "
                                f'"{conname}"'
                            )
                # inbound FKs re-validate against the re-typed parent
                for other, oentry, oc, ospec in _cons._inbound_fks(
                    self, name, include_self=False
                ):
                    if colname in ospec["refcols"] and _cons._fk_violations(
                        self._live_read(oentry), ospec["cols"],
                        new, ospec["refcols"],
                        broadcast_parent=entry.is_reference,
                    ):
                        raise ValueError(
                            f'foreign key constraint "{oc}" on table '
                            f'"{other}" is violated by the type change '
                            f'of "{name}.{colname}"'
                        )
            else:  # rename_table
                new_name = op[1]
                if self.catalog.get(new_name) is not None:
                    raise ValueError(
                        f'relation "{new_name}" already exists'
                    )
                cur.createOrReplaceTempView(new_name)
                self.catalog._tables[new_name] = entry
                entry.name = new_name
                self.catalog.unregister(name)
                self.spark.catalog.dropTempView(name)
                # inbound FKs stay attached across a rename (PG)
                _cons.rename_reftable(self, name, new_name)
                self.stat_statements.record(
                    query, None, executor="utility"
                )
                return self.spark.createDataFrame(
                    [("ALTER TABLE",)], "status string"
                )
            self._live_rewrite(entry, new, name)
            self.stat_statements.record(query, None, executor="utility")
            return self.spark.createDataFrame(
                [("ALTER TABLE",)], "status string"
            )
        dropped = parse_drop_table(query)
        if dropped is not None:
            name, if_exists = dropped
            entry = self.catalog.get(name)
            if entry is None:
                if if_exists:
                    return self.spark.createDataFrame(
                        [("DROP TABLE skipped: unknown",)], "status string"
                    )
                return None  # not ours — Spark's catalog may own it
            from citus_spark.plans import constraints as _cons2

            deps = _cons2.has_inbound_fks(self, name)
            if deps:
                raise ValueError(
                    f"cannot drop table {name} because other objects "
                    f"depend on it\nDETAIL: {'; '.join(deps)}"
                )
            # owned (serial/IDENTITY) sequences drop with the table —
            # a re-created table restarts its numbering (PG ownership)
            for seq in (entry.identity or {}).values():
                if seq in self._owned_seqs:
                    self._sequences.pop(seq, None)
                    self._owned_seqs.discard(seq)
            if getattr(entry, "partition_by", None) is not None:
                # PG drops a partitioned table together with all its
                # partitions (they are dependent objects)
                for child in list(entry.partitions or {}):
                    self.catalog.unregister(child)
                    self.spark.catalog.dropTempView(child)
                self.spark.catalog.dropTempView(f"{name}__only")
            if getattr(entry, "partition_parent", None):
                # dropping a partition detaches it from the parent
                pe = self.catalog.get(entry.partition_parent)
                if pe is not None and pe.partitions:
                    parts = dict(pe.partitions)
                    parts.pop(name, None)
                    pe.partitions = parts
                    self._register_partitioned_parent(pe)
            # triggers die with their table (PG dependency; review
            # fix — a stale record blocked re-distribution of a
            # recreated same-named table)
            for key in [k for k in self._triggers if k[0] == name]:
                del self._triggers[key]
            # discard EVERY schema-membership record for the dropped
            # relation, not just the one under the schema current at
            # DROP time — dropping sch.tbl after RESET search_path
            # left a stale (sch, tbl) member, so a later bare CREATE
            # of the same name under a different path made qualified
            # sch.tbl resolve to the wrong relation (ADVICE r10)
            bare = name.split(".")[-1].lower()
            self._schema_members -= {
                k for k in self._schema_members if k[1] == bare
            }
            self.catalog.unregister(name)
            self.spark.catalog.dropTempView(name)
            self.stat_statements.record(query, None, executor="utility")
            return self.spark.createDataFrame(
                [("DROP TABLE",)], "status string"
            )
        return None

    def _alter_column_metadata(self, entry, name, op, cur, query):
        """ALTER COLUMN SET/DROP DEFAULT and SET/DROP NOT NULL —
        metadata-only actions (SET DEFAULT affects FUTURE writes only,
        PG; SET NOT NULL validates existing rows in one distributed
        scan and records an enforcing constraint)."""
        kind, col = op[0], op[1]
        if col not in cur.columns:
            raise ValueError(f'column "{col}" does not exist')
        if kind == "set_default":
            if col in (entry.generated or {}):
                raise ValueError(
                    f'column "{col}" of relation "{name}" is a '
                    "generated column"
                )
            if col in (entry.identity or {}):
                raise ValueError(
                    f'column "{col}" of relation "{name}" is an '
                    "identity column"
                )
            expr_txt = op[2]
            import re as _re

            nv = _re.match(
                r"^\s*nextval\(\s*'([\w.]+)'\s*(?:::\s*regclass)?\s*\)"
                r"\s*$",
                expr_txt, _re.I,
            )
            if nv:
                # sequence-backed default (pg_dump's ALTER COLUMN id
                # SET DEFAULT nextval('sch.seq'::regclass)): keep the
                # call TEXTUAL like CREATE TABLE defaults do, with the
                # name resolved through the shared _seq_name rule; the
                # regclass cast is PG catalog plumbing
                seq = self._seq_name(nv.group(1))
                if seq not in self._sequences:
                    raise ValueError(
                        f'relation "{nv.group(1)}" does not exist'
                    )
                expr_txt = f"nextval('{seq}')"
            else:
                # the expression must resolve NOW (PG validates at
                # ALTER time, not at the next INSERT)
                try:
                    cur.select(F.expr(expr_txt))
                except Exception as e:
                    raise ValueError(
                        f"DEFAULT expression {op[2]!r} does not "
                        f"resolve: {e}"
                    ) from e
            entry.defaults = {**(entry.defaults or {}), col: expr_txt}
        elif kind == "drop_default":
            if entry.defaults:
                entry.defaults.pop(col, None)
        elif kind == "set_not_null":
            # enforced through the CHECK machinery (every write path
            # already re-judges CHECKs); PG 17 auto-names the
            # constraint {table}_{col}_not_null. Lookup is by the
            # EXPRESSION, not the name — a renamed table keeps its
            # constraint under the old name
            if self._find_not_null(entry, col) is None:
                if cur.filter(F.col(col).isNull()).limit(1).count():
                    raise ValueError(
                        f'column "{col}" of relation "{name}" '
                        "contains null values"
                    )
                from citus_spark.plans import constraints as _cons
                from citus_spark.plans.ddl_sql import _suffix_name

                conname = _suffix_name(
                    f"{name}_{col}_not_null", entry.constraints or {}
                )
                _cons._store(entry)[conname] = {
                    "kind": "c",
                    "expr": f"{col} IS NOT NULL",
                    "valid": True,
                }
        elif kind == "drop_not_null":
            for cn, spec in (entry.constraints or {}).items():
                if spec["kind"] == "p" and col in spec["cols"]:
                    raise ValueError(
                        f'column "{col}" is in a primary key'
                    )
            found = self._find_not_null(entry, col)
            if found is not None:
                entry.constraints.pop(found)
        self.stat_statements.record(query, None, executor="utility")
        return self.spark.createDataFrame(
            [("ALTER TABLE",)], "status string"
        )

    def _guard_generated_change(
        self, entry, table: str, col: str, renamed_to: str | None = None
    ) -> None:
        """A base column a generated expression references cannot be
        dropped without CASCADE (PG), and a rename cannot safely
        rewrite the stored expression text — both reject loudly.
        Dropping/renaming the generated column itself is fine (the
        caller moves its dict entry)."""
        import re as _re

        from citus_spark.plans.ddl_sql import _mask_literals

        for gcol, gexpr in (entry.generated or {}).items():
            if gcol == col:
                continue
            if _re.search(rf"\b{_re.escape(col)}\b", _mask_literals(gexpr)):
                verb = "rename" if renamed_to else "drop"
                raise ValueError(
                    f'cannot {verb} column "{col}" of relation '
                    f'"{table}": generated column "{gcol}" references '
                    "it — drop the generated column first"
                )

    def _current_schema(self) -> str:
        """First resolvable schema on the session search_path."""
        path = getattr(self, "_search_path", '"$user", public')
        for p in path.split(","):
            s = p.strip().strip('"').lower()
            if s and s != "$user":
                return s
        return "public"

    def _rel_name(self, name: str) -> str:
        """Resolve a user-spelled relation name from inside a string
        literal (mgmt-call arguments escape statement-level schema
        mangling): try verbatim, the schema-mangled spelling, then the
        bare form for public."""
        if "." not in name or self._table_exists(name):
            return name
        candidates = [name.replace(".", "__")]
        if name.lower().startswith("public."):
            candidates.append(name[len("public."):])
        for c in candidates:
            if self._table_exists(c) or self.catalog.get(c) is not None:
                return c
        return name

    def _table_exists(self, name: str) -> bool:
        try:
            return self.spark.catalog.tableExists(name)
        except Exception:
            return False

    def _reject_if_triggers(self, name: str) -> None:
        """↔ create_distributed_table.c / trigger checks: a relation
        carrying triggers cannot become a citus table
        (citus_table_triggers.out:109-111)."""
        if any(t == name for t, _n in getattr(self, "_triggers", {})):
            raise ValueError(
                f'cannot distribute relation "{name}" because it has '
                "triggers"
            )

    def _execute_perimeter_ddl(self, query: str) -> DataFrame | None:
        """Trigger / collation / row-level-security DDL — the
        statements a pg_dump replay hits first (plans/trigger_sql.py;
        r9 verdict items #3-5). Exact reference parity on the trigger
        gate: every trigger command against a distributed or
        reference table ERRORs with the reference's own message while
        citus.enable_ddl_propagation is on (commands/trigger.c:692,
        697,719); otherwise the trigger is recorded as a visible
        no-op (bodies never fire — writes go through the distributed
        write funnel). RLS statements raise one named error instead
        of a parse failure."""
        import re as _re

        from citus_spark.plans.perimeter_sql import ADMIN_HEAD

        admin_head = ADMIN_HEAD.match(query)
        if not admin_head and not _re.search(
            r"\b(TRIGGER|COLLATION|POLICY|ROW\s+LEVEL\s+SECURITY"
            r"|SERVER|FOREIGN|USER\s+MAPPING|SECURITY\s+LABEL|RULE"
            r"|LISTEN|UNLISTEN|NOTIFY)\b",
            query, _re.I,
        ):
            return None
        from citus_spark.plans.perimeter_sql import (
            FDW_ERROR,
            RULE_ERROR,
            SECLABEL_ERROR,
            is_fdw_statement,
            is_rule_statement,
            is_seclabel_statement,
            parse_admin_noop,
            parse_listen_notify,
            unsupported_object_error,
        )

        err = unsupported_object_error(query)
        if err is not None:
            raise NotImplementedError(err)
        noop = parse_admin_noop(query)
        if noop is None and admin_head:
            # the head gate admitted it but no classifier claimed it —
            # never fall through to a raw Spark ParseException on an
            # admin statement class (closes the hand-list drift the
            # review found: ALTER/DROP variants of a rejected CREATE)
            raise NotImplementedError(
                f"statement class {admin_head.group(0).strip().upper()!r} "
                "is recognized but not supported by this engine"
            )
        if noop is not None:
            self.stat_statements.record(query, None, executor="utility")
            return self.spark.createDataFrame(
                [(
                    f"{noop} accepted (no-op: no query-visible effect "
                    "in this engine — privileges/ownership/planner "
                    "statistics/replication publications/event-trigger "
                    "bodies/ts-config names carry no semantics here)",
                )],
                "status string",
            )
        from citus_spark.plans.trigger_sql import (
            RLS_ERROR,
            is_rls_statement,
            parse_collation,
            parse_trigger,
            parse_trigger_function,
        )

        if is_rls_statement(query):
            raise NotImplementedError(RLS_ERROR)
        if is_fdw_statement(query):
            raise NotImplementedError(FDW_ERROR)
        if is_seclabel_statement(query):
            raise NotImplementedError(SECLABEL_ERROR)
        if is_rule_statement(query):
            raise NotImplementedError(RULE_ERROR)
        verb = parse_listen_notify(query)
        if verb is not None:
            self.stat_statements.record(query, None, executor="utility")
            return self.spark.createDataFrame(
                [(
                    f"{verb} accepted (no-op: async notification "
                    "channels have no listeners in this engine and no "
                    "effect on query results)",
                )],
                "status string",
            )

        tfn = parse_trigger_function(query)
        if tfn is not None:
            self._triggers[("", tfn)] = query  # function, not a trigger
            self.stat_statements.record(query, None, executor="utility")
            return self.spark.createDataFrame(
                [(
                    f"CREATE FUNCTION {tfn} (trigger function) recorded "
                    "— runs only from triggers, which are no-ops here",
                )],
                "status string",
            )

        trg = parse_trigger(query)
        if trg is not None:
            kind, name, table, extra = trg
            entry = self.catalog.get(table)
            if entry is not None and self.enable_ddl_propagation:
                if kind == "depends":
                    # trigger.c:719-723 — same message for distributed
                    # AND reference tables
                    if entry.is_reference or entry.method != "none":
                        raise ValueError(
                            f'trigger "{name}" depends on an extension '
                            "and this is not supported for distributed "
                            "tables and local tables added to metadata"
                        )
                elif entry.is_reference:
                    raise ValueError(
                        "triggers are not supported on reference tables"
                    )
                elif entry.method != "none":
                    raise ValueError(
                        "triggers are not supported on distributed tables"
                    )
            key = (table, name)
            if kind == "create":
                if entry is None and not self._table_exists(table):
                    raise ValueError(
                        f'relation "{table}" does not exist'
                    )
                if key in self._triggers and not extra:
                    # duplicate names error unless the PG14+
                    # OR REPLACE spelling was used (extra carries the
                    # replace flag for create — ADVICE r10)
                    raise ValueError(
                        f'trigger "{name}" for relation "{table}" '
                        "already exists"
                    )
                self._triggers[key] = query
                msg = (
                    f"CREATE TRIGGER {name} recorded (no-op: trigger "
                    "bodies do not fire in this engine — writes go "
                    "through the distributed write funnel, not per-row "
                    "procedures)"
                )
            elif kind in ("drop", "drop_if_exists"):
                if key not in self._triggers and kind == "drop":
                    raise ValueError(
                        f'trigger "{name}" for table "{table}" does '
                        "not exist"
                    )
                self._triggers.pop(key, None)
                msg = "DROP TRIGGER"
            elif kind == "rename":
                new_name = extra  # 4th slot carries the new name
                if key not in self._triggers:
                    raise ValueError(
                        f'trigger "{name}" for table "{table}" does '
                        "not exist"
                    )
                self._triggers[(table, new_name)] = self._triggers.pop(key)
                msg = "ALTER TRIGGER"
            else:  # depends / toggle on an allowed table: recorded no-op
                msg = f"ALTER TRIGGER {name} accepted (no-op)"
            self.stat_statements.record(query, None, executor="utility")
            return self.spark.createDataFrame([(msg,)], "status string")

        col = parse_collation(query)
        if col is not None:
            kind, name, payload = col
            if kind == "create":
                if name in self._collations:
                    if payload.get("if_not_exists"):
                        return self.spark.createDataFrame(
                            [("CREATE COLLATION skipped: exists",)],
                            "status string",
                        )
                    raise ValueError(f'collation "{name}" already exists')
                src = payload.get("from")
                if src is not None and src not in self._collations:
                    raise ValueError(f'collation "{src}" does not exist')
                self._collations[name] = (
                    dict(self._collations[src]) if src is not None
                    else {"options": payload.get("options", "")}
                )
                msg = (
                    f"CREATE COLLATION {name} recorded (sorts and "
                    "comparisons use binary UTF-8 code-point order, "
                    "not locale order — documented divergence)"
                )
            elif kind == "drop":
                if name not in self._collations:
                    if payload.get("if_exists"):
                        return self.spark.createDataFrame(
                            [("DROP COLLATION skipped: missing",)],
                            "status string",
                        )
                    raise ValueError(f'collation "{name}" does not exist')
                del self._collations[name]
                msg = "DROP COLLATION"
            else:  # alter
                if name not in self._collations:
                    raise ValueError(f'collation "{name}" does not exist')
                new = payload.get("rename_to")
                if new:
                    self._collations[new] = self._collations.pop(name)
                msg = "ALTER COLLATION"
            self.stat_statements.record(query, None, executor="utility")
            return self.spark.createDataFrame([(msg,)], "status string")
        return None

    def _execute_utility(self, query: str) -> DataFrame | None:
        """TRUNCATE / VACUUM / ANALYZE — the utility statements the
        reference propagates to shards (commands/truncate.c,
        vacuum.c; SURVEY §2.8/§2.10). TRUNCATE empties the relation
        keeping its schema; VACUUM bin-packs small files
        (sources/ingest.compact_table); ANALYZE returns per-column
        statistics (count/ndv/nulls/min/max — the pg_statistic
        analog, computed in one distributed pass)."""
        import re as _re

        m = _re.match(
            r"^\s*(TRUNCATE)(?:\s+TABLE)?\s+([A-Za-z_][\w.]*)"
            r"(?:\s+(CASCADE|RESTRICT))?\s*;?\s*$"
            r"|^\s*(VACUUM|ANALYZE)\s+([A-Za-z_][\w.]*)\s*;?\s*$",
            query,
            _re.I,
        )
        if not m:
            # parenthesized-option and bare forms (PG 16 psql/pg_dump
            # surface — r10 verdict item #7): VACUUM (ANALYZE, ...) t,
            # VACUUM FULL ANALYZE t, bare VACUUM / ANALYZE. Unknown
            # options error like PG; VERBOSE/FULL/FREEZE/PARALLEL etc.
            # don't change query-visible state, so the table form runs
            # the normal VACUUM/ANALYZE paths and the bare form (all
            # tables) is a recorded no-op — a vacuum that compacts
            # nothing is still correct, and compacting every catalog
            # table on a bare VACUUM would surprise at scale.
            vm = _re.match(
                r"^\s*(VACUUM|ANALYZE)\s*"
                r"(?:\(\s*(?P<opts>[^)]*)\)|"
                r"(?P<words>(?:(?:FULL|FREEZE|VERBOSE|ANALYZE)\b\s*)+))?"
                r'\s*(?P<tbl>"[^"]+"|[A-Za-z_][\w.]*)?\s*;?\s*$',
                query,
                _re.I,
            )
            if not vm:
                return None
            head = vm.group(1).upper()
            # option name -> value; PG booleans: absent value = true,
            # and FALSE/OFF/0 disable (VACUUM (ANALYZE FALSE) must
            # NOT analyze — review fix)
            opts: dict[str, bool] = {}
            for o in (vm.group("opts") or "").split(","):
                parts = o.strip().split()
                if parts:
                    val = parts[1].upper() if len(parts) > 1 else "TRUE"
                    opts[parts[0].upper()] = val not in (
                        "FALSE", "OFF", "0",
                    )
            for w in (vm.group("words") or "").split():
                opts[w.upper()] = True
            known = {
                "FULL", "FREEZE", "VERBOSE", "ANALYZE", "ANALYSE",
                "DISABLE_PAGE_SKIPPING", "SKIP_LOCKED", "INDEX_CLEANUP",
                "PROCESS_MAIN", "PROCESS_TOAST", "TRUNCATE", "PARALLEL",
                "SKIP_DATABASE_STATS", "ONLY_DATABASE_STATS",
                "BUFFER_USAGE_LIMIT",
            }
            bad = [o for o in opts if o not in known]
            if bad:
                raise ValueError(
                    f'unrecognized {head} option "{bad[0].lower()}"'
                )
            name = vm.group("tbl")
            if name is None:
                self.stat_statements.record(query, None, executor="utility")
                return self.spark.createDataFrame(
                    [(f"{head} accepted (no-op: database-wide "
                      "maintenance has no query-visible effect here)",)],
                    "status string",
                )
            if name.startswith('"'):
                name = name[1:-1]
            if head == "VACUUM" and (
                opts.get("ANALYZE") or opts.get("ANALYSE")
            ):
                # VACUUM (ANALYZE) t = vacuum then analyze; return the
                # analyze stats (the query-visible half)
                self._execute_utility(f"VACUUM {name}")
                out = self._execute_utility(f"ANALYZE {name}")
            else:
                out = self._execute_utility(f"{head} {name}")
            if out is None:
                # don't fall through to Spark — it cannot parse the
                # parenthesized form, and a raw ParseException is the
                # exact failure mode this path exists to remove. Name
                # the real condition: the relation may exist as a
                # read-only view (fixture tables) without being
                # engine-catalog-owned.
                try:
                    self.spark.table(name)
                    raise NotImplementedError(
                        f'cannot {head} "{name}": the relation is not '
                        "owned by this engine's catalog (fixture views "
                        "are read-only; only tables created or "
                        "distributed through this session can be "
                        "vacuumed)"
                    )
                except NotImplementedError:
                    raise
                except Exception:
                    raise ValueError(
                        f'relation "{name}" does not exist'
                    ) from None
            return out
        verb = (m.group(1) or m.group(4)).upper()
        name = m.group(2) or m.group(5)
        truncate_cascade = bool(m.group(3)) and m.group(3).upper() == "CASCADE"
        if verb in ("TRUNCATE", "VACUUM") and self.catalog.get(name) is None:
            # not one of ours: fall through to Spark's own handling
            # (its catalog TRUNCATE TABLE, or its honest unsupported
            # error) instead of claiming the statement
            return None
        if verb == "ANALYZE":
            try:
                self.spark.table(name)
            except Exception:
                return None
        if verb == "TRUNCATE":
            from citus_spark.plans import constraints as _cons

            entry = self._writable_entry(name, "TRUNCATE")
            # PG: a table other tables reference cannot be truncated
            # without CASCADE, which then truncates the referencing
            # tables transitively (commands/truncate.c propagates the
            # same statement shape to shards)
            targets = [name]
            frontier = [name]
            while frontier:
                t = frontier.pop()
                for other, _oe, _oc, _os in _cons._inbound_fks(
                    self, t, include_self=False
                ):
                    if other not in targets:
                        targets.append(other)
                        frontier.append(other)
            if len(targets) > 1 and not truncate_cascade:
                raise ValueError(
                    f'cannot truncate a table referenced in a foreign '
                    f'key constraint\nDETAIL: Table "{targets[1]}" '
                    f'references "{name}".\nHINT: Truncate table '
                    f'"{targets[1]}" at the same time, or use TRUNCATE '
                    "... CASCADE."
                )
            # judge writability of EVERY target before emptying the
            # first — a read-only child must veto the whole statement,
            # not leave it half-applied
            entries = [self._writable_entry(t, "TRUNCATE") for t in targets]
            for t, e_t in zip(targets, entries):
                self._live_rewrite(
                    e_t, self._live_read(e_t).filter(F.lit(False)), t
                )
            return self.spark.sql("SELECT 'TRUNCATE' AS status")
        if verb == "VACUUM":
            from citus_spark.sources.ingest import compact_table

            entry = self._writable_entry(name, "VACUUM")
            if entry.time_partitioning:
                # compact each period directory independently — the
                # partition layout IS the table structure, so the
                # bin-packing must not cross period boundaries
                from citus_spark.sources.partitions import (
                    PERIOD_COL,
                    list_partitions,
                )

                tp = entry.time_partitioning
                n_files = 0
                for p in list_partitions(tp["path"]):
                    n_files += compact_table(
                        self.spark,
                        os.path.join(tp["path"], f"{PERIOD_COL}={p}"),
                    )
            else:
                n_files = compact_table(self.spark, entry.path)
            self._live_register(entry, name)
            return self.spark.createDataFrame(
                [(int(n_files),)], "files long"
            )
        # ANALYZE: works on any registered relation (read-only)
        df = self.spark.table(name)
        aggs = [F.count("*").cast("long").alias("_n")]
        for f in df.schema.fields:
            c = f.name
            aggs += [
                F.approx_count_distinct(c).cast("long").alias(f"_ndv_{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"_nulls_{c}"),
                # aggregate in the column's OWN type, stringify after —
                # min/max on the string cast would be lexicographic
                # (min of {9, 10} = '10')
                F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
                F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
            ]
        row = df.agg(*aggs).collect()[0]
        stats = [
            (
                c.name,
                int(row["_n"]),
                int(row[f"_ndv_{c.name}"]),
                int(row[f"_nulls_{c.name}"] or 0),
                row[f"_min_{c.name}"],
                row[f"_max_{c.name}"],
            )
            for c in df.schema.fields
        ]
        return self.spark.createDataFrame(
            stats,
            "column string, n_rows long, approx_ndv long, n_nulls long, "
            "min_value string, max_value string",
        )

    def _execute_prepared(self, query: str) -> DataFrame:
        """PREPARE/EXECUTE/DEALLOCATE + DECLARE..CURSOR/FETCH/MOVE/
        CLOSE (plans/prepared_sql.py ↔ reference multi_prepare_sql /
        cursor regress suites). EXECUTE substitutes $n parameters
        (typed PREPARE lists apply casts) and re-enters session.sql,
        so ANY statement kind can be prepared. Cursors stream via
        toLocalIterator — FETCH n never materializes the relation."""
        import itertools

        from citus_spark.plans import prepared_sql as P

        parsed = P.parse(query)
        if parsed is None:
            head = query.strip().split(None, 1)[0].upper()
            raise ValueError(f"cannot parse {head} statement: {query!r}")
        kind, m = parsed
        if not hasattr(self, "_prepared"):
            self._prepared: dict[str, P.Prepared] = {}
            self._cursors: dict[str, tuple] = {}

        def tag(text: str) -> DataFrame:
            return self.spark.createDataFrame([(text,)], "status string")

        if kind == "prepare":
            name = m.group("name").lower()
            if name in self._prepared:
                raise ValueError(
                    f'prepared statement "{name}" already exists'
                )
            types = [
                t.strip()
                for t in (m.group("types") or "").split(",")
                if t.strip()
            ]
            self._prepared[name] = P.Prepared(m.group("stmt"), types)
            return tag("PREPARE")
        if kind == "execute":
            name = m.group("name").lower()
            if name not in self._prepared:
                raise ValueError(
                    f'prepared statement "{name}" does not exist'
                )
            prep = self._prepared[name]
            args = P.split_args(m.group("args") or "")
            return self.sql(P.substitute_params(prep.sql, args, prep.types))
        if kind == "deallocate":
            name = m.group("name").lower()
            if name == "all":
                self._prepared.clear()
            elif self._prepared.pop(name, None) is None:
                raise ValueError(
                    f'prepared statement "{name}" does not exist'
                )
            return tag("DEALLOCATE")
        if kind == "declare":
            name = m.group("name").lower()
            if name in self._cursors:
                raise ValueError(f'cursor "{name}" already exists')
            df = self.sql(m.group("q"))
            self._cursors[name] = (df.schema, df.toLocalIterator())
            return tag("DECLARE CURSOR")
        if kind == "fetch_move":
            name = m.group("name").lower()
            if name not in self._cursors:
                raise ValueError(f'cursor "{name}" does not exist')
            schema, it = self._cursors[name]
            count = (m.group("count") or "NEXT").upper()
            if count == "ALL":
                rows = list(it)
            else:
                n = 1 if count == "NEXT" else int(count)
                rows = list(itertools.islice(it, n))
            if m.group("verb").upper() == "MOVE":
                return tag(f"MOVE {len(rows)}")
            return self.spark.createDataFrame(rows, schema)
        if kind == "close":
            name = m.group("name").lower()
            if name == "all":
                self._cursors.clear()
            elif self._cursors.pop(name, None) is None:
                raise ValueError(f'cursor "{name}" does not exist')
            return tag("CLOSE CURSOR")
        raise AssertionError(kind)

    def _apply_pg_rewrites(self, query: str) -> str:
        """The unconditional PG-surface rewrite chain: none of these
        spellings is valid Spark SQL, so rewriting can never change a
        working query (string literals are segment-protected). ILIKE
        needs no rewrite — Spark accepts it natively. Shared by sql()
        and the plan-only EXPLAIN path."""
        from citus_spark.plans.rewrites import pg_casts

        import re as _re

        # text search FIRST: `tsv @@ 'q'::tsquery` must be claimed
        # before pg_casts turns the ::tsquery into CAST(.. AS tsquery)
        if _re.search(r"\bto_tsvector\s*\(|\bts_rank\s*\(|::\s*tsquery",
                      query, _re.I):
            from citus_spark.plans.textsearch_sql import (
                pg_text_search,
                register_ts_functions,
            )

            if not getattr(self, "_ts_registered", False):
                register_ts_functions(self.spark)
                self._ts_registered = True
            query = pg_text_search(query)
        # 'name'::regtype resolves a registered type name to its
        # canonical registry key (PG resolves to the type oid and
        # prints the name); unknown names stay put and error loudly
        # downstream, like PG's "type does not exist"
        if _re.search(r"::\s*regtype", query, _re.I):
            def _regtype(m: _re.Match) -> str:
                t = self._resolve_type(m.group(1))
                return f"'{t['name']}'" if t is not None else m.group(0)

            query = _re.sub(
                r"'([\w.]+)'\s*::\s*regtype", _regtype, query,
                flags=_re.I,
            )
        # JSON_TABLE → LATERAL posexplode subquery (plans/
        # json_table.py) before any cast/array rewrite touches the
        # COLUMNS type names or path literals
        if _re.search(r"\bJSON_TABLE\s*\(", query, _re.I):
            from citus_spark.plans.json_table import pg_json_table

            query = pg_json_table(query)
        # quantified comparisons BEFORE pg_casts: the quantifier's
        # '{...}'::type[] array literals are claimed (with their cast
        # suffix) by pg_quantified; pg_casts's scalar ::type rewrite
        # would otherwise strand the trailing [] under pg_compat
        if _re.search(
            r"(?:<=|>=|<>|!=|=|<|>)\s*\b(?:ANY|SOME|ALL)\b\s*\(",
            query, _re.I,
        ):
            from citus_spark.plans.rewrites import pg_quantified

            query = pg_quantified(query)
        if self.pg_compat:
            query = pg_casts(query)
        elif _re.search(
            r"\bAS\s+(?:VARCHAR|CHAR(?:ACTER)?)\b", query, _re.I
        ):
            # length-less char types inside a CAST are never valid
            # Spark, so this piece of pg_casts is safe unconditionally
            # (the CAST-context check keeps aliases named char/varchar
            # untouched — ADVICE r10; applied whole-statement so a
            # literal operand doesn't split the paren pairing)
            from citus_spark.plans.rewrites import bare_char_cast_to_string

            query = bare_char_cast_to_string(query)
        if _re.search(
            r"\bLIMIT\s+NULL\b|\bOFFSET\s+NULL\b"
            r"|\bOFFSET\s+(?:\d+|NULL)\s+LIMIT\b",
            query, _re.I,
        ):
            # PG LIMIT/OFFSET spellings Spark rejects (LIMIT NULL,
            # OFFSET NULL, OFFSET-before-LIMIT) — never valid Spark,
            # so unconditional (regress multi_limit_clause.sql)
            from citus_spark.plans.rewrites import pg_limit_forms

            query = pg_limit_forms(query)
        if "~" in query:
            from citus_spark.plans.rewrites import pg_regex_ops

            query = pg_regex_ops(query)
        if _re.search(
            r"\b(?:rank|dense_rank|percent_rank|cume_dist)\s*\(\s*\)",
            query, _re.I,
        ):
            from citus_spark.plans.rewrites import pg_rank_without_order

            query = pg_rank_without_order(query)
        if _re.search(r"\bDISTINCT\s+ON\b", query, _re.IGNORECASE):
            from citus_spark.plans.rewrites import rewrite_distinct_on

            query = rewrite_distinct_on(query)
        if _re.search(r"\bINTERVAL\b", query, _re.IGNORECASE):
            from citus_spark.plans.rewrites import pg_intervals

            query = pg_intervals(query)
        if _re.search(r"\bgenerate_series\b", query, _re.IGNORECASE):
            from citus_spark.plans.rewrites import pg_generate_series

            query = pg_generate_series(query)
        if "->" in query:
            from citus_spark.plans.rewrites import pg_json_ops

            # single-arrow heads only under pg_compat: `x -> 'lit'`
            # is also Spark lambda syntax (see pg_json_ops docstring)
            query = pg_json_ops(query, allow_single_arrow=self.pg_compat)
        if _re.search(r"\bARRAY\s*\[", query, _re.IGNORECASE):
            from citus_spark.plans.rewrites import pg_array_literals

            query = pg_array_literals(query)
        if "@>" in query or "<@" in query or "&&" in query:
            from citus_spark.plans.rewrites import pg_array_contains_ops

            query = pg_array_contains_ops(query)
        if _re.search(r"\bOVERLAPS\b", query, _re.I):
            from citus_spark.plans.rewrites import pg_overlaps

            query = pg_overlaps(query)
        if _re.search(r"\)\s*(=|<>|!=)\s*\(", query):
            from citus_spark.plans.rewrites import pg_row_comparison

            query = pg_row_comparison(query)
        if "^" in query and self.pg_compat:
            # PG ^ is power; Spark ^ is XOR — same spelling, silently
            # different answers, so the PG meaning only wins under
            # pg_compat (PG spells XOR `#`)
            from citus_spark.plans.rewrites import pg_power_caret

            query = pg_power_caret(query)
        if _re.search(r"\bFETCH\b|\bOFFSET\s+\d+\s+ROWS?\b", query, _re.I):
            from citus_spark.plans.rewrites import pg_fetch_first

            query = pg_fetch_first(query)
        if _re.search(r"\bTABLESAMPLE\s+(SYSTEM|BERNOULLI)\b", query, _re.I):
            from citus_spark.plans.rewrites import pg_tablesample

            query = pg_tablesample(query)
        if _re.search(r"\bSIMILAR\s+TO\b", query, _re.I):
            from citus_spark.plans.rewrites import pg_similar_to

            query = pg_similar_to(query)
        if _re.search(r"\bsubstring\s*\(", query, _re.I):
            from citus_spark.plans.rewrites import pg_substring_regex

            query = pg_substring_regex(query)
        if _re.search(r"\bregexp_replace\s*\(", query, _re.I):
            from citus_spark.plans.rewrites import pg_regexp_replace_flags

            query = pg_regexp_replace_flags(query)
        if _re.search(r"\bFOR\s+(NO\s+KEY\s+)?(UPDATE|SHARE)\b", query, _re.I):
            from citus_spark.plans.rewrites import pg_row_locking

            query = pg_row_locking(query)
        if _re.search(r"\bjsonb?_path_", query, _re.I):
            from citus_spark.plans.rewrites import pg_jsonpath

            query = pg_jsonpath(query)
        if "@?" in query or "@@" in query:
            from citus_spark.plans.rewrites import pg_jsonpath_ops

            query = pg_jsonpath_ops(query)
        if _re.search(r"\b(array_agg|string_agg)\s*\(", query, _re.I):
            from citus_spark.plans.rewrites import pg_ordered_agg

            query = pg_ordered_agg(query)
        if _re.search(r"\barray_length\s*\(", query, _re.I):
            from citus_spark.plans.rewrites import pg_array_length

            query = pg_array_length(query)
        # (pg_quantified already ran, before pg_casts — and before
        # this: string_to_array emits a CASE whose '=' would trip the
        # quantifier's boolean-argument carve-out)
        if _re.search(r"\bstring_to_array\s*\(", query, _re.I):
            from citus_spark.plans.pgfmt_sql import pg_string_to_array

            query = pg_string_to_array(query)
        if _re.search(r"\barray_to_string\s*\(", query, _re.I):
            from citus_spark.plans.pgfmt_sql import pg_array_to_string

            query = pg_array_to_string(query)
        if _re.search(r"\bAT\s+TIME\s+ZONE\b", query, _re.I):
            from citus_spark.plans.rewrites import pg_at_time_zone

            query = pg_at_time_zone(query)
        if _re.search(r"\bextract\s*\(\s*epoch\b", query, _re.I):
            from citus_spark.plans.rewrites import pg_extract_epoch

            query = pg_extract_epoch(query)
        if _re.search(r"\bnum_(non)?nulls\s*\(", query, _re.I):
            from citus_spark.plans.rewrites import pg_num_nulls

            query = pg_num_nulls(query)
        if _re.search(r"\bto_(char|date|timestamp)\s*\(", query, _re.I):
            from citus_spark.plans.pgfmt_sql import pg_to_char

            query = pg_to_char(query)
        if _re.search(r"\bunnest\s*\(", query, _re.I):
            from citus_spark.plans.pgfmt_sql import pg_unnest

            query = pg_unnest(query)
        if _re.search(
            r"\b(regexp_split_to_table|string_to_table)\s*\(", query, _re.I
        ):
            from citus_spark.plans.pgfmt_sql import pg_split_to_table

            query = pg_split_to_table(query)
        if _re.search(r"\bdate_bin\s*\(", query, _re.I):
            from citus_spark.plans.pgfmt_sql import pg_date_bin

            query = pg_date_bin(query)
        if _re.search(r"\bBETWEEN\s+SYMMETRIC\b", query, _re.I):
            from citus_spark.plans.pgfmt_sql import pg_between_symmetric

            query = pg_between_symmetric(query)
        if _re.search(r"\bROW\s*\(", query, _re.I):
            from citus_spark.plans.pgfmt_sql import pg_row_constructor

            query = pg_row_constructor(query)
        if _re.search(
            r"\barray_(cat|upper|lower|fill)\s*\(", query, _re.I
        ):
            from citus_spark.plans.pgfmt_sql import pg_array_compat

            query = pg_array_compat(query)
        if _re.search(
            r"\b(strpos|to_hex|quote_literal|quote_ident|starts_with"
            r"|gen_random_uuid|clock_timestamp)\s*\(",
            query,
            _re.I,
        ):
            # PG scalar spellings with direct Spark equivalents —
            # registered once per session as SQL UDFs (JVM codegen,
            # never Python). quote_ident always quotes, which is
            # VALID PG quoting (PG itself omits quotes when safe — a
            # cosmetic difference, not a semantic one).
            if not getattr(self, "_pg_scalar_shims", False):
                for ddl in (
                    "CREATE OR REPLACE TEMPORARY FUNCTION strpos"
                    "(s STRING, sub STRING) RETURNS INT "
                    "RETURN instr(s, sub)",
                    # PG picks the int4 overload for int-range args:
                    # to_hex(-1) = 'ffffffff' (32-bit two's
                    # complement); int8-range negatives print 16
                    # digits like PG's int8 overload
                    "CREATE OR REPLACE TEMPORARY FUNCTION to_hex"
                    "(n BIGINT) RETURNS STRING RETURN lower(hex("
                    "CASE WHEN n < 0 AND n >= -2147483648 "
                    "THEN n & 4294967295 ELSE n END))",
                    "CREATE OR REPLACE TEMPORARY FUNCTION quote_literal"
                    "(s STRING) RETURNS STRING RETURN "
                    "concat('''', replace(s, '''', ''''''), '''')",
                    "CREATE OR REPLACE TEMPORARY FUNCTION quote_ident"
                    "(s STRING) RETURNS STRING RETURN "
                    'concat(\'"\', replace(s, \'"\', \'""\'), \'"\')',
                    "CREATE OR REPLACE TEMPORARY FUNCTION starts_with"
                    "(s STRING, p STRING) RETURNS BOOLEAN "
                    "RETURN startswith(s, p)",
                    "CREATE OR REPLACE TEMPORARY FUNCTION "
                    "gen_random_uuid() RETURNS STRING RETURN uuid()",
                    # statement-constant — equivalent to PG's
                    # statement_timestamp(), NOT its per-call
                    # volatility (Spark SQL has no volatile wall
                    # clock; the elapsed-time-within-one-statement
                    # idiom reads 0 here)
                    "CREATE OR REPLACE TEMPORARY FUNCTION "
                    "clock_timestamp() RETURNS TIMESTAMP "
                    "RETURN current_timestamp()",
                ):
                    self.spark.sql(ddl)
                self._pg_scalar_shims = True
        if _re.search(r"\bpg_size_pretty\s*\(", query, _re.I):
            # PG dbsize.c algorithm verbatim (shift-9 then shift-10
            # steps, limit2 = 20479, half-rounding) as a Spark SQL
            # UDF — JVM codegen, registered once per session
            if not getattr(self, "_size_pretty_registered", False):
                self.spark.sql("""
CREATE OR REPLACE TEMPORARY FUNCTION pg_size_pretty(sz BIGINT)
RETURNS STRING RETURN
CASE
  WHEN abs(sz) < 10240 THEN concat(CAST(sz AS STRING), ' bytes')
  WHEN abs(shiftright(sz, 9)) < 20479
    THEN concat(CAST((shiftright(sz, 9)
         + (CASE WHEN shiftright(sz, 9) < 0 THEN -1 ELSE 1 END)) DIV 2
         AS STRING), ' kB')
  WHEN abs(shiftright(sz, 19)) < 20479
    THEN concat(CAST((shiftright(sz, 19)
         + (CASE WHEN shiftright(sz, 19) < 0 THEN -1 ELSE 1 END)) DIV 2
         AS STRING), ' MB')
  WHEN abs(shiftright(sz, 29)) < 20479
    THEN concat(CAST((shiftright(sz, 29)
         + (CASE WHEN shiftright(sz, 29) < 0 THEN -1 ELSE 1 END)) DIV 2
         AS STRING), ' GB')
  WHEN abs(shiftright(sz, 39)) < 20479
    THEN concat(CAST((shiftright(sz, 39)
         + (CASE WHEN shiftright(sz, 39) < 0 THEN -1 ELSE 1 END)) DIV 2
         AS STRING), ' TB')
  ELSE concat(CAST((shiftright(sz, 49)
         + (CASE WHEN shiftright(sz, 49) < 0 THEN -1 ELSE 1 END)) DIV 2
         AS STRING), ' PB')
END
""")
                self._size_pretty_registered = True
        if _re.search(
            r"\b(?:pg|citus)_(?:relation|table|total_relation)_size\s*\(",
            query, _re.I,
        ):
            # literal-name size functions fold to the live storage
            # footprint (all forks coincide on parquet — see the
            # citus_table_size dispatch). The bare-statement citus_*
            # form routes through the mgmt dispatcher first (sql()
            # order), so only composite expressions reach this fold;
            # non-literal args fail loudly in Spark rather than being
            # guessed at.
            query = _re.sub(
                r"\b(?:pg|citus)_(?:relation|table|total_relation)_size"
                r"\s*\(\s*'([A-Za-z_]\w*)'\s*\)",
                lambda m: str(int(self._relation_size(m.group(1)))),
                query,
                flags=_re.I,
            )
        if self.pg_compat and "[" in query:
            # gated: `a[1]` is ALSO valid Spark SQL (0-based) — only a
            # session opted into PG semantics may have it re-based
            from citus_spark.plans.rewrites import pg_subscripts

            query = pg_subscripts(query)
        return query

    def explain_analyze(self, query: str | DataFrame) -> DataFrame:
        """EXPLAIN ANALYZE (↔ reference multi_explain.c): execute the
        plan and return one row per (operator, metric) with real
        execution stats — output rows, scan/agg/sort time, spill and
        shuffle volume. See plans/explain_analyze.py."""
        from citus_spark.plans.explain_analyze import explain_analyze

        return explain_analyze(self, query)

    def explain_analyze_text(self, query: str | DataFrame) -> str:
        """EXPLAIN ANALYZE rendered as the annotated plan tree."""
        from citus_spark.plans.explain_analyze import explain_analyze_text

        return explain_analyze_text(self, query)

    def explain_distribution(self, query: str | DataFrame) -> str:
        """Citus-EXPLAIN analog: summarize the *data movement* of a
        plan — how many shuffle exchanges, broadcasts, and scans it
        contains, plus the physical plan. The reference's EXPLAIN
        shows task counts per job; here exchanges play that role
        (each exchange boundary = one distributed job)."""
        df = self.sql(query) if isinstance(query, str) else query
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_shuffle = plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange rangepartitioning"
        )
        n_bcast = plan.count("BroadcastExchange")
        n_scans = plan.count("FileScan") + plan.count("Scan parquet")
        header = (
            f"Distributed plan: {n_scans} scan(s), {n_shuffle} shuffle "
            f"exchange(s), {n_bcast} broadcast(s)\n"
        )
        return header + plan

    def materialize(self, name: str, df: DataFrame) -> DataFrame:
        """Materialize an intermediate result for reuse across queries
        (↔ reference intermediate results / MATERIALIZED CTEs:
        recursive_planning.c subplans become read_intermediate_result
        scans; here the DataFrame is cached and registered so later
        SQL references scan the cached relation)."""
        cached = df.cache()
        cached.createOrReplaceTempView(name)
        self.catalog.register(name, "none")
        return cached

def register_views(spark: SparkSession, sf_dir: str) -> DistributedSession:
    """Convenience: a DistributedSession over `sf_dir`'s parquet tables."""
    sess = DistributedSession(spark)
    sess.load_tables(sf_dir)
    return sess


def _merge_returning_exprs(returning: str, t_cols: list[str]) -> str:
    """Rewrite a MERGE RETURNING list for the action-tagged affected
    frame: `merge_action()` → the hidden tag column (aliased
    `merge_action` when bare, PG's output name), and a bare `*`
    expands to the target columns only (never the tag)."""
    import re as _re

    from citus_spark.plans.rewrites import _split_top_level

    out = []
    for item in _split_top_level(returning):
        item = item.strip()
        if not item:
            continue
        if _re.fullmatch(r"merge_action\s*\(\s*\)", item, _re.I):
            out.append("__citus_merge_action AS merge_action")
            continue
        if item == "*":
            out.extend(t_cols)
            continue
        out.append(
            _re.sub(
                r"\bmerge_action\s*\(\s*\)",
                "__citus_merge_action",
                item,
                flags=_re.I,
            )
        )
    return ", ".join(out)
