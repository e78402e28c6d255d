"""Thin SQL front-end for the reference's script dialect (SURVEY.md 2.9).

Executes the statement classes the reference's entry points use
(tickets/movies/users-cdc.sql, revenue-analytics.sql, flink-gen.sh):

  SET 'k' = 'v';
  CREATE CATALOG name WITH (...);            USE CATALOG name;
  CREATE DATABASE IF NOT EXISTS db;          USE db;
  CREATE [TEMPORARY] TABLE [IF NOT EXISTS] t (cols..., WATERMARK FOR c AS
      c - INTERVAL 'n' SECOND, PRIMARY KEY (k) NOT ENFORCED) WITH (opts);
  DROP TABLE IF EXISTS t;
  INSERT INTO t SELECT ...;

DDL/SET are interpreted by this module (catalog bookkeeping, PK/watermark
metadata, connector binding); DML SELECT text is handed to Spark SQL
unchanged, with each table it names bound to its current snapshot for that
one call -- Catalyst does the planning, exactly as Flink's planner does for
the reference.

Streaming `INSERT INTO ... SELECT` (connector-backed source) becomes:
- a replication pipeline when the SELECT is a plain projection (the three
  *-cdc.sql jobs), or
- a continuously-refreshed materialized view when it aggregates (the
  revenue-analytics job). When the statement matches the join+groupBy shape
  the reference's analytics job uses (two aliased staging tables equi-joined
  on the target's primary key, which also leads the GROUP BY), or the
  single-table GROUP BY over one staging table keyed by the target's
  primary key, the front-end routes it to the AFFECTED-KEYS refresh: each
  replication micro-batch that merges into a staging table the view reads
  then re-aggregates ONLY the group keys the batch touched -- per-batch work
  proportional to the batch's keys, never the table. Arbitrary SELECT text
  that doesn't match the shape falls back to the full-requery refresh,
  re-refreshed on each script execution -- correct but O(table) per
  refresh, documented as the fidelity path.

Connector tables can't reach real Postgres/Kinesis in tests; bind them to
file-replay changelog dirs with `Engine.bind_source(name, path, schema)`.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from datetime import datetime
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from flink_cdc_fluss_quickstart_spark.sources.osb import changelog_stream
from flink_cdc_fluss_quickstart_spark.streaming.analytics import (
    affected_keys,
    commit_refresh,
)
from flink_cdc_fluss_quickstart_spark.streaming.cdc_pipeline import Refresh, replicate
from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable

# Flink type -> Spark type (SURVEY.md 1.3)
_TYPE_MAP = {
    "BIGINT": T.LongType(),
    "INT": T.IntegerType(),
    "INTEGER": T.IntegerType(),
    "STRING": T.StringType(),
    "BOOLEAN": T.BooleanType(),
    "DOUBLE": T.DoubleType(),
    "FLOAT": T.FloatType(),
    "DATE": T.DateType(),
}


def _parse_type(s: str) -> T.DataType:
    # fullmatch, not match: an unanchored prefix match silently accepted any
    # suffixed garbage as the prefix's type -- notably Flink's TIMESTAMP_LTZ
    # parsed as the NTZ type (prefix "TIMESTAMP", LTZ group unmatched),
    # shifting every event-time value by the session zone
    s = s.strip().upper()
    m = re.fullmatch(r"DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", s)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    m = re.fullmatch(
        r"TIMESTAMP(?:\s*\(\s*\d+\s*\))?(\s+WITH\s+LOCAL\s+TIME\s+ZONE)?", s
    )
    if m:
        return T.TimestampType() if m.group(1) else T.TimestampNTZType()
    if re.fullmatch(r"TIMESTAMP_LTZ(?:\s*\(\s*\d+\s*\))?", s):
        return T.TimestampType()  # Flink's session-zone timestamp spelling
    if re.fullmatch(r"(?:VARCHAR|CHAR)(?:\s*\(\s*\d+\s*\))?|TEXT|STRING", s):
        return T.StringType()
    if s in _TYPE_MAP:
        return _TYPE_MAP[s]
    raise ValueError(f"unsupported type: {s}")


@dataclass
class TableSpec:
    name: str
    schema: T.StructType
    primary_key: list[str] = field(default_factory=list)
    watermark: tuple[str, str] | None = None  # (col, "N seconds")
    options: dict[str, str] = field(default_factory=dict)
    temporary: bool = False

    @property
    def is_connector_source(self) -> bool:
        return "connector" in self.options


def _split_statements(script: str) -> list[str]:
    """Split on ';' outside quotes; strip -- comments."""
    out, buf = [], []
    in_q: str | None = None
    i = 0
    while i < len(script):
        ch = script[i]
        if in_q:
            buf.append(ch)
            if ch == in_q:
                in_q = None
            i += 1
            continue
        if ch in ("'", '"', "`"):
            in_q = ch
            buf.append(ch)
            i += 1
            continue
        if ch == "-" and script[i : i + 2] == "--":
            nl = script.find("\n", i)
            i = len(script) if nl == -1 else nl
            continue
        if ch == ";":
            stmt = "".join(buf).strip()
            if stmt:
                out.append(stmt)
            buf = []
            i += 1
            continue
        buf.append(ch)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        out.append(tail)
    return out


def _parse_with_options(text: str) -> dict[str, str]:
    return {
        k.lower(): v
        for k, v in re.findall(r"'([^']+)'\s*=\s*'([^']*)'", text)
    }


# -- incremental aggregate views ----------------------------------------------


@dataclass
class AggViewShape:
    """The parsed join+groupBy statement shape eligible for affected-keys
    refresh: two aliased tables equi-joined on one key; the target's single
    primary-key column is that join key, projected directly and grouped on."""

    tables: dict[str, str]        # alias -> staging table name
    anchor_alias: str             # alias whose key expr feeds the target PK
    anchor_table: str
    key_by_table: dict[str, str]  # staging table -> its join-key column name
    pk_col: str                   # target PK column name
    rewritten_sql: str            # SELECT with table names -> {placeholders}
    view_names: dict[str, str]    # staging table -> its placeholder's name


def _split_select_items(select_list: str) -> list[str]:
    items, buf, depth = [], [], 0
    for ch in select_list:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            items.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    tail = "".join(buf).strip()
    if tail:
        items.append(tail)
    return items


def _mentions(sql: str) -> list[str]:
    """Base names of every table a FROM or JOIN names, in order of
    appearance. The keywords are word-anchored: an identifier ending in
    "from"/"join" (SELECT valid_from FROM t) must not capture the keyword
    as a source."""
    return [
        n.split(".")[-1].lower()
        for n in re.findall(r"(?:\bFROM|\bJOIN)\s+([\w.]+)", sql, re.I)
    ]


def _pk_projection(select_sql: str,
                   target_spec: "TableSpec") -> tuple[str, str, list[str]] | None:
    """What both affected-keys shapes check of the SELECT list and GROUP BY:
    the target has one primary-key column and the statement projects one
    item per DDL column. Returns the PK column, the select item at the PK's
    DDL position and the lowercased GROUP BY items, else None.

    The GROUP BY capture stops at HAVING/ORDER BY/LIMIT, so the callers'
    group-key containment check can't be satisfied by a reference in a
    trailing clause."""
    if len(target_spec.primary_key) != 1:
        return None
    pk = target_spec.primary_key[0]
    sm = re.match(r"\s*SELECT\s+(.*?)\bFROM\b", select_sql, re.I | re.S)
    gm = re.search(
        r"\bGROUP\s+BY\s+(.*?)(?:\bHAVING\b|\bORDER\s+BY\b|\bLIMIT\b|$)",
        select_sql,
        re.I | re.S,
    )
    if not sm or not gm:
        return None
    items = _split_select_items(sm.group(1))
    ddl_cols = [f.name for f in target_spec.schema.fields]
    if pk not in ddl_cols or len(items) != len(ddl_cols):
        return None
    group_items = [i.strip().lower() for i in _split_select_items(gm.group(1))]
    return pk, items[ddl_cols.index(pk)].strip(), group_items


def _parse_agg_view_shape(select_sql: str, target_spec: "TableSpec",
                          target_name: str) -> AggViewShape | None:
    """Return the shape if `select_sql` is an affected-keys-refreshable
    aggregate (the revenue-analytics.sql:46-65 family), else None.

    Soundness requirements, each checked: the scoping column must be the
    equi-join key (so a left-semi filter on either side bounds both), must
    BE the target's primary key value (so refreshed groups map 1:1 onto
    serving-table keys), must appear in GROUP BY (so a group never mixes
    affected and unaffected keys), the two parsed tables must be DISTINCT
    and must cover every source the statement mentions (a third table or a
    self-join cannot be scoped soundly), and the GROUP BY check is matched
    against the split group-by item list, never text trailing into
    HAVING/ORDER BY.

    Group-key-MOVING updates (a ticket changing movie_id) are handled via
    the changelog's `before` struct -- the full pre-update row, REPLICA
    IDENTITY FULL parity with the reference's Postgres source
    (01-init.sql:56-59): the refresh frame unions before- and after-image
    keys, so the old group retracts in the same micro-batch (see
    streaming.analytics.affected_keys). On a before-image-free changelog
    the old group would go stale until next touched -- bind such sources
    only if their scoping key is immutable.
    """
    projection = _pk_projection(select_sql, target_spec)
    if projection is None:
        return None
    pk, pk_item, group_items = projection
    m = re.search(
        r"FROM\s+([\w.]+)\s+(?:AS\s+)?(\w+)\s+JOIN\s+([\w.]+)\s+(?:AS\s+)?(\w+)"
        r"\s+ON\s+(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)",
        select_sql,
        re.I | re.S,
    )
    if not m:
        return None
    t1, a1, t2, a2, ja, jac, jb, jbc = (g.lower() for g in m.groups())
    t1, t2 = t1.split(".")[-1], t2.split(".")[-1]
    if t1 == t2:
        return None  # self-join: one staging table cannot anchor two roles
    tables = {a1: t1, a2: t2}
    if len(tables) != 2 or {ja, jb} != {a1, a2}:
        return None
    # every source mentioned ANYWHERE in the statement must be one of the
    # two parsed join tables AND each must appear exactly once; a 3rd table,
    # a subquery FROM, or a SECOND mention of a staging table (self-subquery,
    # extra join -- a set-based check passed those) would be left unscoped
    # and unstreamed -- reject, don't half-stream
    if sorted(_mentions(select_sql)) != sorted([t1, t2]):
        return None
    key_by_alias = {ja: jac, jb: jbc}

    im = re.match(r"(\w+)\.(\w+)\s*$", pk_item, re.I)
    if not im:
        return None
    anchor_alias, anchor_col = im.group(1).lower(), im.group(2).lower()
    if anchor_alias not in tables or key_by_alias.get(anchor_alias) != anchor_col:
        return None
    if not any(
        re.fullmatch(rf"{anchor_alias}\s*\.\s*{anchor_col}", gi) for gi in group_items
    ):
        return None

    # parser hardening: an alias that equals the OTHER table's base name
    # would make the first-token rewrite below hit the alias instead of the
    # table (e.g. `FROM a_staging b JOIN b c`); reject the shape and let the
    # full-requery path bind the tables by name instead
    base_names = set(tables.values())
    for alias, tbl in tables.items():
        if alias in base_names and alias != tbl:
            return None

    view_names = {t: f"__ivw_{target_name}_{t}" for t in tables.values()}
    span = m.group(0)
    rewritten_span = span
    for tbl_raw in (m.group(1), m.group(3)):
        rewritten_span = re.sub(
            rf"(?<![\w.]){re.escape(tbl_raw)}(?![\w.])",
            "{" + view_names[tbl_raw.split(".")[-1].lower()] + "}",
            rewritten_span,
            count=1,
        )
    rewritten_sql = _escape_braces(select_sql).replace(span, rewritten_span, 1)
    return AggViewShape(
        tables=tables,
        anchor_alias=anchor_alias,
        anchor_table=tables[anchor_alias],
        key_by_table={tables[a]: c for a, c in key_by_alias.items()},
        pk_col=pk,
        rewritten_sql=rewritten_sql,
        view_names=view_names,
    )


def _parse_single_table_agg_shape(select_sql: str, target_spec: "TableSpec",
                                  target_name: str) -> AggViewShape | None:
    """Single-table GROUP BY variant of the affected-keys shape:
    `SELECT g, <aggs...> FROM staging [alias] [WHERE ...] GROUP BY g` where
    `g` is the target's single primary-key column projected as a bare
    column. Same soundness checks as the join shape (PK position projects
    the scoping column, it appears in the split GROUP BY list, no other
    source appears anywhere in the statement).

    The scoping column here may be MUTABLE (e.g. ticket status, whose
    transitions dominate the reference workload): the changelog's `before`
    struct puts the OLD group key in the refresh frame, so a row moving
    between groups refreshes both in the same micro-batch. Without that
    generalization this shape had to fall back to the full-requery path.
    """
    projection = _pk_projection(select_sql, target_spec)
    if projection is None:
        return None
    pk, pk_item, group_items = projection
    m = re.search(
        r"FROM\s+([\w.]+)(?:\s+(?:AS\s+)?(?!WHERE\b|GROUP\b)(\w+))?\s*"
        r"(?=\bWHERE\b|\bGROUP\b)",
        select_sql,
        re.I | re.S,
    )
    if not m:
        return None
    tbl = m.group(1).split(".")[-1].lower()
    alias = (m.group(2) or tbl).lower()
    # exactly ONE mention of the one staging table (the list-equality twin
    # of the join shape's check: a self-subquery's second FROM passed a
    # set-based comparison but its span is never rewritten)
    if _mentions(select_sql) != [tbl]:
        return None
    im = re.match(r"(?:(\w+)\.)?(\w+)\s*$", pk_item)
    if not im:
        return None
    qual, col = (im.group(1) or "").lower(), im.group(2).lower()
    if qual and qual != alias:
        return None
    if not any(re.fullmatch(rf"(?:{alias}\s*\.\s*)?{col}", gi) for gi in group_items):
        return None
    vname = f"__ivw_{target_name}_{tbl}"
    # alias the view back to the original alias (which defaults to the
    # table name) so both bare and qualified column refs keep resolving
    rewritten_sql = _escape_braces(select_sql).replace(
        m.group(0), f"FROM {{{vname}}} {alias} ", 1
    )
    return AggViewShape(
        tables={alias: tbl},
        anchor_alias=alias,
        anchor_table=tbl,
        key_by_table={tbl: col},
        pk_col=pk,
        rewritten_sql=rewritten_sql,
        view_names={tbl: vname},
    )


def _escape_braces(sql: str) -> str:
    """SQL text as a literal ``str.format`` template: the form
    ``spark.sql(text, **frames)`` takes, where ``{name}`` binds a frame."""
    return sql.replace("{", "{{").replace("}", "}}")


def _sql_over(spark: SparkSession, sql: str, tables: dict[str, DataFrame]) -> DataFrame:
    """Run ``sql`` with each name in ``tables`` bound to its DataFrame for
    this call only. Each name becomes a CTE over a ``spark.sql`` frame
    argument, which pyspark registers as a uniquely named temp view and
    drops once the statement is analyzed: concurrent callers never see
    each other's bindings, nothing stays registered, and qualified column
    references (``t.col``) resolve because the CTE carries the table's
    own name."""
    if not tables:
        return spark.sql(sql)
    frames = {f"__bound_{i}": df for i, df in enumerate(tables.values())}
    ctes = ", ".join(
        f"`{name}` AS (SELECT * FROM {{{arg}}})" for name, arg in zip(tables, frames)
    )
    text = _escape_braces(sql)
    head = re.match(r"\s*WITH\s+(?:RECURSIVE\s+)?", text, re.I)
    if head:
        text = f"{text[: head.end()]}{ctes}, {text[head.end():]}"
    else:
        text = f"WITH {ctes} {text}"
    return spark.sql(text, **frames)


def _align_to_schema(df: DataFrame, spec: "TableSpec") -> DataFrame:
    """Positional rename to the DDL order + cast to the declared types
    (e.g. SUM widens DECIMAL; the DDL pins (15,2))."""
    cols = [f.name for f in spec.schema.fields]
    return df.toDF(*cols).select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in spec.schema.fields]
    )


def _refresh_changes(
    keys: list[str],
    spec: "TableSpec",
    aligned: DataFrame,
    gone_keys: DataFrame | None,
    batch_id: int,
) -> DataFrame:
    """The ONE upsert+retract changes recipe both refresh paths share (the
    incremental affected-keys view and the full-requery fallback): aligned
    rows become op='U' upserts, `gone_keys` (the target's key columns for
    groups that vanished) become null-padded op='D' deletes, and the union
    carries `batch_id` as its `seq`."""
    cols = [f.name for f in spec.schema.fields]
    changes = aligned.withColumn("op", F.lit("U"))
    if gone_keys is not None:
        pad = [
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in spec.schema.fields
            if f.name not in keys
        ]
        deletes = gone_keys.select(*keys, *pad).select(*cols).withColumn("op", F.lit("D"))
        changes = changes.unionByName(deletes)
    return changes.withColumn("seq", F.lit(batch_id).cast("long"))


class IncrementalAggView:
    """Affected-keys-maintained materialized view over staging PK tables:
    `refresh(keys)` re-runs the parsed SELECT with the anchor table scoped to
    the given group keys (broadcast left-semi -- the big side is filtered,
    never re-aggregated whole) and merges upserts plus deletes for groups
    that vanished. Per-refresh work is proportional to the affected keys'
    data; `refresh_stats` records the per-batch key counts so tests (and
    operators) can assert that property."""

    def __init__(self, engine: "Engine", target_name: str, shape: AggViewShape) -> None:
        self.engine = engine
        self.target_name = target_name
        self.shape = shape
        self.refresh_stats: list[dict] = []

    def refresh(self, affected: DataFrame, batch_id: int, writer_id: str) -> None:
        """`affected` carries one column: the anchor table's key values the
        source micro-batch touched (pre-renamed by the caller). Commits
        through `commit_refresh`, so two source streams refresh the view
        concurrently and only the view merges serialize. Each committed
        refresh records its key count and whether it was rebuilt under the
        view's commit lock."""
        eng = self.engine
        inputs = [eng.stores[t] for t in self.shape.tables.values()]
        committed = commit_refresh(eng.stores[self.target_name], inputs,
                                   lambda: self._changes(affected, batch_id),
                                   batch_id, writer_id)
        if committed is not None:
            pinned, rebuilt = committed
            # one U or D row per distinct affected key: the pin's row count
            self.refresh_stats.append({"writer": writer_id, "batch_id": batch_id,
                                       "n_affected": pinned.n_rows, "rebuilt": rebuilt})

    def _changes(self, affected: DataFrame, batch_id: int) -> DataFrame:
        """The U/D changes re-aggregating the affected group keys from the
        staging tables' current snapshots: a U row per group the keys still
        hold, a D row per key whose group vanished -- one row per distinct
        key."""
        eng, shape = self.engine, self.shape
        spec = eng.tables[self.target_name]
        anchor_key = shape.key_by_table[shape.anchor_table]
        affected = affected.distinct()
        frames = {}
        for tbl, arg in shape.view_names.items():
            snap = eng.stores[tbl].snapshot()
            if snap is None:
                snap = eng.spark.createDataFrame([], eng.tables[tbl].schema)
            if tbl == shape.anchor_table:
                snap = snap.join(F.broadcast(affected), anchor_key, "left_semi")
            frames[arg] = snap
        # frames bind through per-call temp views (see _sql_over): the two
        # source streams' refreshes run this concurrently
        fresh = eng.spark.sql(shape.rewritten_sql, **frames)

        aligned = _align_to_schema(fresh, spec)
        gone = affected.toDF(shape.pk_col).join(
            aligned.select(shape.pk_col), shape.pk_col, "left_anti"
        )
        return _refresh_changes(
            eng.stores[self.target_name].keys, spec, aligned, gone, batch_id
        )


class Engine:
    """Session-level executor for the reference SQL dialect."""

    def __init__(self, spark: SparkSession, warehouse: str) -> None:
        self.spark = spark
        self.warehouse = warehouse
        self.conf: dict[str, str] = {}
        self.catalogs: dict[str, dict] = {"default_catalog": {}}
        self.current_catalog = "default_catalog"
        self.current_db = "default"
        self.tables: dict[str, TableSpec] = {}
        self.stores: dict[str, PKTable] = {}
        self.bound_sources: dict[str, tuple[str, T.StructType]] = {}
        self.replicated_from: dict[str, str] = {}  # staging table -> source
        # target table -> exact checkpoint dirs its streams use, so DROP can
        # remove precisely these (a `{name}_from_*` glob over-matched a
        # sibling table literally NAMED `{name}_from_...`, wiping the
        # survivor's resume state), and table -> its PK store path so DROP
        # in a FRESH engine also removes the on-disk data (the in-memory
        # stores dict alone resurrected the old rows on recreate). Both maps
        # PERSIST next to the warehouse: a fresh Engine over the same
        # warehouse must purge on DROP, or a drop+recreate+re-INSERT in the
        # new session silently resumes past the already-consumed changelog
        # epochs over the old table state (r8 advice + r9 review).
        self.ckpts, self.store_paths = self._load_registry()
        self.views: dict[str, IncrementalAggView] = {}
        self.queries: list = []  # running StreamingQuery handles

    # -- checkpoint registry (warehouse-persistent) --------------------------

    @property
    def _ckpt_registry_path(self) -> str:
        return os.path.join(self.warehouse, "_ckpt_registry.json")

    def _load_registry(self) -> tuple[dict[str, set[str]], dict[str, str]]:
        try:
            with open(self._ckpt_registry_path) as f:
                import json

                data = json.load(f)
        except (OSError, ValueError):
            return {}, {}
        # shape detection is STRUCTURAL, not key-presence: the new shape is
        # exactly {"ckpts": {table: [dirs]}, "stores": {table: path}}, while
        # the pre-r9 flat shape is {table: [ckpt dirs]} -- where a table
        # could legitimately be NAMED 'ckpts', so '"ckpts" in data' alone
        # would misread a legacy file and drop every other table's
        # checkpoint dirs from DROP purging (r9 advice)
        is_v2 = (
            set(data) <= {"ckpts", "stores"}
            and isinstance(data.get("ckpts"), dict)
            and isinstance(data.get("stores", {}), dict)
            and all(isinstance(v, list) for v in data.get("ckpts", {}).values())
        )
        if not is_v2:  # pre-r9 flat shape: {table: [ckpt dirs]}
            return {k: set(v) for k, v in data.items()}, {}
        return (
            {k: set(v) for k, v in data["ckpts"].items()},
            dict(data.get("stores", {})),
        )

    def _save_ckpt_registry(self) -> None:
        # whole-file swap from THIS engine's view: like the reference's SQL
        # client, a warehouse has one active engine at a time. For TABLE
        # DATA the contract is ENFORCED: each PKTable handle claims a writer
        # epoch at first write and a superseded handle's commit raises
        # StaleWriterError (pk_table._fence). The ckpt registry itself stays
        # last-writer-wins -- it only grows monotonically within an engine's
        # life, and sequential engines are fine because every engine loads
        # the registry at init; production maps onto the table format's own
        # transaction protocol.
        import json

        os.makedirs(self.warehouse, exist_ok=True)
        tmp = self._ckpt_registry_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "ckpts": {k: sorted(v) for k, v in self.ckpts.items()},
                    "stores": self.store_paths,
                },
                f,
            )
        os.replace(tmp, self._ckpt_registry_path)

    def _register_ckpt(self, target_name: str, ckpt: str) -> None:
        self.ckpts.setdefault(target_name, set()).add(ckpt)
        self._save_ckpt_registry()

    def _register_store(self, name: str, path: str) -> None:
        if self.store_paths.get(name) != path:
            self.store_paths[name] = path
            self._save_ckpt_registry()

    # -- runtime binding ---------------------------------------------------

    def bind_source(self, table_name: str, path: str, schema: T.StructType) -> None:
        """Bind a connector-backed table to a file-replay changelog dir."""
        self.bound_sources[table_name.lower()] = (path, schema)

    def store_for(self, name: str) -> PKTable:
        return self.stores[name.lower()]

    def snapshot(self, name: str) -> DataFrame | None:
        return self.stores[name.lower()].snapshot()

    def query(self, sql: str) -> DataFrame:
        """Batch SELECT over the lakehouse tables (the reference's
        batch-mode querying of tiered snapshots, README.md:81-95), with
        SQL-level time travel: ``FROM t VERSION AS OF n`` (or Iceberg's
        ``FOR SYSTEM_VERSION AS OF n``) routes to
        ``PKTable.snapshot(version=n)`` -- the r10 Python time-travel API
        surfaced in the dialect. Every other table mention reads the
        CURRENT snapshot, so `SELECT ... FROM t VERSION AS OF 3 a JOIN t b
        ON ...` compares a past state against the live one in one query.

        Timestamp form: ``FROM t FOR SYSTEM_TIME AS OF TIMESTAMP
        '2026-01-01 12:00:00'`` (Flink/SQL:2011 spelling; the TIMESTAMP
        keyword is optional, Iceberg also spells it FOR SYSTEM_TIME AS OF)
        resolves through the manifest's commit wall-clocks to the largest
        version committed at-or-before that instant (``PKTable.version_at``).
        The literal is interpreted in the HOST's local timezone -- the same
        clock ``time.time()`` stamped the commits with.

        Tables bind for this call only (_sql_over): a query registers no
        temp view."""
        tables: dict[str, DataFrame] = {}

        def versioned_view(m: "re.Match[str]") -> str:
            name = m.group(1).split(".")[-1].lower()
            version = int(m.group(2))
            if name not in self.stores:
                raise ValueError(f"unknown table for time travel: {name}")
            df = self.stores[name].snapshot(version=version)
            if df is None:
                raise ValueError(
                    f"version {version} of {name} is empty: an empty"
                    " snapshot carries no schema to SELECT from"
                )
            vname = f"__timetravel_{name}_v{version}"
            tables[vname] = df
            return vname

        def timestamped_view(m: "re.Match[str]") -> str:
            name = m.group(1).split(".")[-1].lower()
            lit = m.group(2)
            if name not in self.stores:
                raise ValueError(f"unknown table for time travel: {name}")
            try:
                ts = datetime.fromisoformat(lit).timestamp()
            except ValueError as exc:
                raise ValueError(
                    f"unparseable SYSTEM_TIME timestamp {lit!r}: use ISO"
                    " 'YYYY-MM-DD HH:MM:SS[.ffffff]'"
                ) from exc
            version = self.stores[name].version_at(ts)
            df = self.stores[name].snapshot(version=version)
            if df is None:
                raise ValueError(
                    f"{name} was empty at {lit} (no commit at or before"
                    " that instant): an empty snapshot carries no schema"
                    " to SELECT from"
                )
            vname = f"__timetravel_{name}_v{version}"
            tables[vname] = df
            return vname

        rewritten = re.sub(
            r"([\w.]+)\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+(?:TIMESTAMP\s+)?"
            r"'([^']+)'",
            timestamped_view,
            sql,
            flags=re.I,
        )
        rewritten = re.sub(
            r"([\w.]+)\s+(?:FOR\s+SYSTEM_VERSION\s+AS\s+OF|VERSION\s+AS\s+OF)"
            r"\s+(\d+)",
            versioned_view,
            rewritten,
            flags=re.I,
        )
        # current snapshots for every other lakehouse table mentioned (the
        # same snapshot binding the MV SELECT path uses)
        for base in set(_mentions(rewritten)):
            if base in self.stores and base not in tables:
                snap = self.stores[base].snapshot()
                if snap is None:
                    raise ValueError(
                        f"table {base} is empty: an empty snapshot carries"
                        " no schema to SELECT from"
                    )
                tables[base] = snap
        return _sql_over(self.spark, rewritten, tables)

    # -- execution ---------------------------------------------------------

    def execute(self, script: str) -> None:
        for stmt in _split_statements(script):
            self._execute_one(stmt)

    def _execute_one(self, stmt: str) -> None:
        head = re.sub(r"\s+", " ", stmt[:60]).upper()
        if head.startswith("SET "):
            m = re.match(r"SET\s+'([^']+)'\s*=\s*'([^']*)'", stmt, re.I)
            if not m:
                raise ValueError(f"bad SET: {stmt[:80]}")
            self.conf[m.group(1)] = m.group(2)
        elif head.startswith("CREATE CATALOG"):
            # the generated init-catalogs.sql spells IF NOT EXISTS
            # (flink-gen.sh:24); the hand-written scripts do not
            m = re.match(
                r"CREATE\s+CATALOG\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s+WITH\s*\((.*)\)\s*$",
                stmt,
                re.I | re.S,
            )
            if not m:
                raise ValueError(f"bad CREATE CATALOG (WITH (...) required): {stmt[:80]}")
            self.catalogs[m.group(1).lower()] = _parse_with_options(m.group(2))
        elif head.startswith("USE CATALOG"):
            self.current_catalog = stmt.split()[-1].strip().lower()
        elif head.startswith("CREATE DATABASE"):
            m = re.match(r"CREATE\s+DATABASE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)", stmt, re.I)
            if not m:
                raise ValueError(f"bad CREATE DATABASE: {stmt[:80]}")
            self.catalogs.setdefault(self.current_catalog, {})[m.group(1).lower()] = {}
        elif head.startswith("USE "):
            self.current_db = stmt.split()[-1].strip().lower()
        elif head.startswith("DROP TABLE"):
            m = re.match(r"DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([\w.]+)", stmt, re.I)
            if not m:
                raise ValueError(f"bad DROP TABLE: {stmt[:80]}")
            name = m.group(1).split(".")[-1].lower()
            self.tables.pop(name, None)
            self.views.pop(name, None)
            self.replicated_from.pop(name, None)
            # also drop the PK store AND its on-disk data: the reference
            # dialect's drop+create yields an EMPTY table, so a resurrected
            # name must not see the old rows. The store path comes from the
            # PERSISTED registry (falling back to the in-memory handle), so
            # a fresh engine over the same warehouse purges it too -- the
            # in-memory stores dict alone left the old manifest+data behind
            # and the recreated table adopted them (r9 review finding).
            store = self.stores.pop(name, None)
            import shutil

            store_path = self.store_paths.get(name) or (
                store.path if store is not None else None
            )
            if store_path:
                shutil.rmtree(store_path, ignore_errors=True)
            # ... and every streaming checkpoint that fed it (the EXACT dirs
            # this engine registered, never a glob -- `{name}_from_*` would
            # also match a sibling table named `{name}_from_...` and wipe the
            # survivor's resume state): a kept checkpoint would make a
            # drop+recreate+re-INSERT resume PAST the already-consumed
            # changelog epochs, silently leaving the resurrected table
            # missing those rows. Deletion happens BEFORE the registry
            # forgets the dirs: the reversed order left a crash window where
            # live checkpoint data survived at a path no registry referenced
            # (this order is crash-safe -- a crash re-purges on the next
            # DROP, and the dirs are dead either way since the table is gone).
            for ckpt in self.ckpts.get(name, ()):
                shutil.rmtree(ckpt, ignore_errors=True)
            if name in self.ckpts or name in self.store_paths:
                self.ckpts.pop(name, None)
                self.store_paths.pop(name, None)
                self._save_ckpt_registry()
        elif head.startswith(("CREATE TABLE", "CREATE TEMPORARY TABLE")):
            self._create_table(stmt)
        elif head.startswith("INSERT INTO"):
            self._insert_into(stmt)
        else:
            raise ValueError(f"unsupported statement: {stmt[:80]}")

    # -- DDL ---------------------------------------------------------------

    def _create_table(self, stmt: str) -> None:
        m = re.match(
            r"CREATE\s+(TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\(",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"bad CREATE TABLE: {stmt[:120]}")
        temporary, name = m.groups()
        # column body ends at the paren matching the opener (WITH options may
        # follow, so a greedy regex would over-capture)
        start = m.end()
        depth, i = 1, start
        while depth and i < len(stmt):
            depth += {"(": 1, ")": -1}.get(stmt[i], 0)
            i += 1
        body = stmt[start : i - 1]
        with_part = stmt[i:]
        name = name.split(".")[-1].lower()
        if name in self.tables:
            return  # IF NOT EXISTS semantics (reference reruns scripts)
        options = _parse_with_options(with_part or "")

        fields: list[T.StructField] = []
        pk: list[str] = []
        watermark: tuple[str, str] | None = None
        for item in _split_select_items(body):
            iu = item.upper()
            if iu.startswith("PRIMARY KEY"):
                km = re.match(r"PRIMARY\s+KEY\s*\(([^)]*)\)", item, re.I)
                if not km:
                    raise ValueError(f"bad PRIMARY KEY clause: {item[:80]}")
                pk = [c.strip().lower() for c in km.group(1).split(",")]
            elif iu.startswith("WATERMARK"):
                wm = re.match(
                    r"WATERMARK\s+FOR\s+(\w+)\s+AS\s+\w+\s*-\s*INTERVAL\s*'(\d+)'\s*(\w+)",
                    item,
                    re.I,
                )
                if not wm:
                    raise ValueError(f"bad WATERMARK clause: {item[:80]}")
                unit = wm.group(3).lower()
                watermark = (wm.group(1).lower(), f"{wm.group(2)} {unit}{'' if unit.endswith('s') else 's'}")
            else:
                cm = re.match(r"(\w+)\s+(.+?)(\s+NOT\s+NULL)?\s*$", item, re.I | re.S)
                if not cm:
                    raise ValueError(f"bad column definition: {item[:80]!r}")
                fields.append(
                    T.StructField(cm.group(1).lower(), _parse_type(cm.group(2)), cm.group(3) is None)
                )
        spec = TableSpec(
            name=name,
            schema=T.StructType(fields),
            primary_key=pk,
            watermark=watermark,
            options=options,
            temporary=bool(temporary),
        )
        if not spec.is_connector_source:
            # PK-backed managed table under the warehouse; the reference's
            # hash-bucket knob is spelled 'bucket.num' in tickets-cdc.sql:34
            # and 'bucket' in the generated init-catalogs.sql paimon DDL
            n_buckets = int(options.get("bucket.num", options.get("bucket", "4")))
            path = os.path.join(self.warehouse, self.current_catalog, self.current_db, name)
            # fail fast, never guess: a managed store is an UPSERT (PK) table,
            # and silently keying a PK-less DDL on its first column collapsed
            # distinct rows that shared that value (1000 clicks by 10 users
            # -> 10 rows, no warning). Append-only log tables are a different
            # storage model this engine does not implement; every reference
            # script declares a PRIMARY KEY.
            if not pk:
                raise ValueError(
                    f"managed table {name!r} requires PRIMARY KEY (append-only"
                    " log tables are not supported; declare a key or bind the"
                    " name as a connector source)"
                )
            # lake format selection, the reference's Paimon-or-Iceberg
            # tiering choice (deploy:316-358) mapped onto the Spark-native
            # columnar stores: 'table.datalake.format' = 'parquet' | 'orc'
            # enum option VALUES are case-insensitive in the reference
            # dialect ('ORC' == 'orc'); keys are already lowercased by the
            # options parser, values are not -- normalize here (r9 advice)
            fmt = options.get("table.datalake.format", "parquet").strip().lower()
            self.stores[name] = PKTable(
                self.spark, path, keys=pk, order_by=["seq"],
                n_buckets=n_buckets, data_format=fmt,
            )
            # persist name -> store path so a FRESH engine's DROP can purge
            # the on-disk data, not only this session's
            self._register_store(name, path)
        # registered last: a DDL the store rejects (no PRIMARY KEY, a
        # 'bucket.num' below 1) leaves no half-defined table behind
        self.tables[name] = spec

    # -- DML ---------------------------------------------------------------

    def _insert_into(self, stmt: str) -> None:
        m = re.match(r"INSERT\s+INTO\s+([\w.]+)\s+(SELECT\b.*)$", stmt, re.I | re.S)
        if not m:
            raise ValueError(f"bad INSERT (only INSERT INTO ... SELECT supported): {stmt[:80]}")
        target_name = m.group(1).split(".")[-1].lower()
        select_sql = m.group(2)
        target = self.stores[target_name]
        target_spec = self.tables[target_name]

        src_names = set(_mentions(select_sql))
        streaming_sources = [n for n in src_names if n in self.bound_sources]
        is_agg = re.search(r"\bGROUP\s+BY\b", select_sql, re.I) is not None

        # the streaming fast-path is ONLY for plain identity projections (the
        # reference's replication scripts): no WHERE/HAVING/ORDER/LIMIT, and
        # a select list of bare columns covering the target schema. Anything
        # else (a filter, a computed column, a rename) falls through to the
        # materialized-view path, which executes the user's actual SELECT --
        # the fast path used to silently DISCARD such clauses.
        sel_m = re.match(r"SELECT\s+(.*?)\s+FROM\s", select_sql, re.I | re.S)
        sel_items = _split_select_items(sel_m.group(1)) if sel_m else []
        plain_projection = (
            sel_m is not None
            and re.search(r"\b(WHERE|HAVING|ORDER\s+BY|LIMIT)\b", select_sql, re.I) is None
            and (
                [i.strip() for i in sel_items] == ["*"]
                or [i.strip().split(".")[-1].lower() for i in sel_items]
                == [f.name.lower() for f in target_spec.schema.fields]
            )
            and all(re.fullmatch(r"[\w.*]+", i.strip()) for i in sel_items)
        )

        if streaming_sources and not is_agg and len(src_names) == 1 and plain_projection:
            # replication job: stream the changelog, project, merge (K1)
            src = streaming_sources[0]
            path, schema = self.bound_sources[src]
            spec = self.tables.get(src)
            ckpt = os.path.join(self.warehouse, "_ckpt", f"{target_name}_from_{src}")
            self._register_ckpt(target_name, ckpt)
            self.queries.append(replicate(
                changelog_stream(self.spark, path, schema), target, ckpt,
                select_cols=[f.name for f in target_spec.schema.fields],
                watermark=spec.watermark if spec else None,
                writer_id=f"sql-{src}",
                refreshes=lambda: self._view_refreshes(target_name, src),
            ))
            self.replicated_from[target_name] = src
            return

        if is_agg:
            shape = _parse_agg_view_shape(select_sql, target_spec, target_name)
            if shape is None:
                shape = _parse_single_table_agg_shape(select_sql, target_spec, target_name)
            if shape is not None and all(
                t in self.stores and t in self.replicated_from
                and self.replicated_from[t] in self.bound_sources
                for t in shape.tables.values()
            ):
                self._start_incremental_view(target_name, shape)
                return

        # materialized view / batch insert: run the SELECT over snapshots.
        # A connector-backed source referenced directly (no staging table in
        # between) is snapshotted by collapsing its bound changelog batch-side
        # -- latest row per PK, deletes dropped -- the same fold PKTable
        # applies incrementally.
        def run_select() -> DataFrame:
            from flink_cdc_fluss_quickstart_spark.operators.changelog import (
                OP_DELETE,
                latest_by_key,
            )

            tables = {}
            for n in src_names:
                if n in self.stores:
                    snap = self.stores[n].snapshot()
                    if snap is None:
                        snap = self.spark.createDataFrame([], self.tables[n].schema)
                elif n in self.bound_sources:
                    path, schema = self.bound_sources[n]
                    log = self.spark.read.schema(schema).parquet(path)
                    keys = self.tables[n].primary_key if n in self.tables else []
                    keys = keys or [schema.fields[2].name]  # first payload col
                    snap = (
                        latest_by_key(log, keys, ["seq"])
                        .filter(F.col("op") != OP_DELETE)
                        .drop("op", "seq", "before")
                    )
                elif n in self.tables and self.tables[n].is_connector_source:
                    # fail fast: a declared connector source with no
                    # bind_source() would snapshot EMPTY here, and the MV
                    # refresh below would then retract every existing row of
                    # the target -- wiping a populated view with no error
                    raise ValueError(
                        f"connector source {n!r} has no bound data: call"
                        " Engine.bind_source() before INSERT ... SELECT"
                        " reads it"
                    )
                else:
                    snap = self.spark.createDataFrame([], self.tables[n].schema)
                tables[n] = snap
            return _sql_over(self.spark, select_sql, tables)

        # materialized-view refresh: merge the query result by the target's
        # PK, deleting vanished groups. Re-executing the script re-refreshes
        # (the reference's never-ending INSERT, expressed as repeatable
        # refreshes; the shapes above take the per-batch affected-keys
        # path instead).
        self._refresh_view(target, target_spec, run_select())

    def _start_incremental_view(self, target_name: str, shape: AggViewShape) -> None:
        """Register an affected-keys view and bring it up to date. The view
        has no stream of its own: each replication micro-batch that merges
        into a staging table the view reads then refreshes the group keys
        the batch touched (`_view_refreshes`). A view already registered
        with an equal shape is left as it is: re-executing its script runs
        no job.

        Otherwise the view is registered FIRST, and then refreshed once
        over every key it may hold -- the anchor table's snapshot keys and
        the view's own, so groups that vanished meanwhile are deleted.
        Replication streams may be running meanwhile. A staging merge that
        committed before the registration is read by that initial refresh;
        a micro-batch that looks the views up after it refreshes its own
        keys, since the lookup follows the batch's merge. The refreshes
        commit through `commit_refresh`: a build that missed a staging
        merge is rebuilt under the view's commit lock when a refresh that
        read that merge already committed; otherwise it commits first and
        that merge's own refresh overwrites its groups after it. So a
        refresh built from an older staging state never lands after one
        that saw a newer state. Refreshing before registering would lose a
        batch merged between the two."""
        view = self.views.get(target_name)
        if view is not None and view.shape == shape:
            return
        view = self.views[target_name] = IncrementalAggView(self, target_name, shape)
        anchor_key = shape.key_by_table[shape.anchor_table]
        held = [
            snap.select(F.col(col).alias(anchor_key))
            for snap, col in ((self.stores[shape.anchor_table].snapshot(), anchor_key),
                              (self.stores[target_name].snapshot(), shape.pk_col))
            if snap is not None
        ]
        if held:
            writer = f"view-{target_name}-init"
            view.refresh(reduce(DataFrame.unionByName, held),
                         self.stores[target_name].last_batch_id(writer) + 1, writer)

    def _view_refreshes(self, staging: str, src: str) -> list[Refresh]:
        """The refreshes a replication micro-batch from ``src`` owes once it
        is merged into ``staging``: one per registered view reading that
        table, scoped to the group keys the batch touches and committed
        under a writer id ending in the source name."""
        out = []
        for view in list(self.views.values()):
            shape = view.shape
            if staging not in shape.tables.values():
                continue

            def refresh(batch: DataFrame, batch_id: int, view=view,
                        key=shape.key_by_table[staging],
                        anchor_key=shape.key_by_table[shape.anchor_table]) -> None:
                view.refresh(affected_keys(batch, key, anchor_key), batch_id,
                             f"view-{view.target_name}-from-{src}")

            out.append(refresh)
        return out

    def _refresh_view(self, target: PKTable, spec: TableSpec, df: DataFrame) -> None:
        """Merge a full query result into a PK table: upsert all rows, delete
        keys that vanished since the last refresh (the _refresh_changes recipe,
        shared with IncrementalAggView.refresh)."""
        aligned = _align_to_schema(df, spec)
        current = target.snapshot()
        gone = (
            current.select(*target.keys).join(
                aligned.select(*target.keys), target.keys, "left_anti"
            )
            if current is not None
            else None
        )
        batch_id = target.last_batch_id("sql-mv") + 1
        target.merge(_refresh_changes(target.keys, spec, aligned, gone, batch_id),
                     batch_id=batch_id, writer_id="sql-mv")

    def await_all(self, timeout: int = 300) -> None:
        """Wait for every started query. A query that fails or outlasts
        ``timeout`` raises; every handle not yet seen to finish stays in
        ``self.queries`` so the caller can still stop or re-await it --
        silently dropping a live query would let it keep writing in the
        background with no remaining handle."""
        pending, self.queries = list(self.queries), []
        for i, q in enumerate(pending):
            try:
                done = q.awaitTermination(timeout)
            except BaseException:
                # q stays only while it still runs (an interrupted wait)
                self.queries.extend(([q] if q.isActive else []) + pending[i + 1:])
                raise
            if not done:
                self.queries.extend(pending[i:])
                raise TimeoutError(
                    f"streaming query {q.id} still running after {timeout}s"
                )
