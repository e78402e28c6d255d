"""Bucketed primary-key table store: the engine's Fluss/Paimon analogue.

The reference keeps every staging/serving table as a PK (upsert) table,
hash-bucketed 4 ways, with a lakehouse (parquet) representation kept fresh by
a tiering job (tickets-cdc.sql:23-37 'bucket.num'='4'; flink-gen.sh:118-142
Paimon 'merge-engine'='deduplicate'; deploy:316-358 tiering). This module
collapses those three roles into one structure, Spark-first:

- data lives as parquet (or orc), hash-bucketed by key
  (`pmod(xxhash64(pk), n)`),
- a tiny JSON manifest pins, per bucket, the current data directory --
  readers see an atomic snapshot; writers only rewrite CHANGED buckets
  (a micro-batch touching 2 of 1024 buckets rewrites 2/1024ths of the
  table, not all of it),
- the manifest also carries the payload schema of the last data commit, so
  every read hands it to the scan and no read runs a Spark job to infer it
  from file footers (a manifest written before the field existed reads by
  inference until its next commit records it),
- the manifest records the last applied `batch_id` per writer id, making
  foreachBatch upserts idempotent under replay -- the exactly-once story
  (reference: EXACTLY_ONCE checkpointing, tickets-cdc.sql:2-5) without
  requiring a transactional table format on the test host. In production
  the same interface maps 1:1 onto Delta/Iceberg MERGE.

**One commit path.** Each writer only builds the frame it writes:
``merge`` and ``compact`` fold newer rows into the touched buckets' base
rows (`_fold`: the pinned batch, or the latest pending deltas),
``ingest`` appends the batch as delta rows, ``overwrite`` and ``rescale``
rewrite the whole table. All five then run the same two steps:
`_write_version` writes ``v<version>`` in one partitioned job, one file
per bucket dir, and `_commit` swaps the changed bucket pointers, sets the
writer's txn marker, appends the history entry, queues the superseded
dirs for GC and swaps the manifest. Every read resolves its dirs through
`_live_dirs` and `_resolve_dirs`.

Batch reads of the table ARE the "lakehouse" surface: plain parquet scans
with partition/bucket pruning available to Catalyst. Two further lakehouse
semantics ride the same manifest:

- **time travel**: the manifest keeps per-commit bucket-pointer deltas (and
  the prior bucket count / schema of a commit that changed them), so
  `snapshot(version=)` / `snapshot_at_batch(writer, batch)` reconstruct any
  retained past state (Iceberg snapshot reads; expiry via GC grace +
  HISTORY_KEEP, expired reads raise rather than silently mis-answer),
- **writer fencing**: each handle claims a writer epoch at its first write
  (an O_EXCL marker file, atomic across processes); a commit from a
  superseded epoch raises StaleWriterError -- the single-active-engine
  contract enforced, not just documented (production: Delta/Iceberg
  optimistic-commit conflicts).

**Delta ingest (the LSM half of the Paimon analogue).** `merge()` reads
and rewrites each affected bucket, so a uniformly-hashed batch touches
every bucket and costs O(table) at any bucket count (ingesting a 500-doc
band batch into a 1.2M-row index cost as much as a full rebuild). Paimon's
answer is an LSM tree INSIDE each bucket, and `ingest()` is that path
here: the batch is written as per-bucket DELTA files (O(|batch|), nothing
existing read or rewritten) under composite pointer keys
(`"<bucket>#d<version>"`) in the same manifest, so time travel, GC grace,
fencing and txn idempotence apply unchanged, and reads resolve
base+deltas latest-per-key by commit version. `compact()` (auto-triggered
past `compact_threshold` deltas per bucket) folds the deltas back into the
base, amortizing the rewrite over that many ingests. A table never
ingested into has no composite keys and reads as a plain pruned scan.

**Metadata costs no Spark job.** Writers pin their input with one eager
`localCheckpoint` whose job also reports, through an observation, the set
of touched buckets and the row count (bounded by n_buckets, never per
row). A writer that must pin before it takes the commit lock (the view
refresh) pins through `pin` and hands `merge` that `PinnedBatch`, so its
batch is pinned once.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile
import threading
import time
from collections.abc import Sequence
from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_cdc_fluss_quickstart_spark.operators.changelog import (
    OP_DELETE,
    latest_by_key,
)

MANIFEST = "manifest.json"

# Commit-history retention: the manifest keeps the bucket-pointer deltas of
# the most recent commits so `snapshot(version=)` can reconstruct earlier
# table states (the lakehouse time-travel surface; production analogue is the
# Iceberg metadata log / Delta commit log). Older entries are pruned and the
# readable floor advances -- Iceberg's expire_snapshots. Reading a pruned or
# GC-expired version raises instead of silently returning a wrong state.
HISTORY_KEEP = 512


class PinnedBatch(NamedTuple):
    """A batch `PKTable.pin` tagged and pinned for one table: the frame
    (its rows' ``__bucket`` hashed under ``n_buckets``), the touched bucket
    ids and the row count the pinning job observed."""

    frame: DataFrame
    buckets: list[int]
    n_rows: int
    n_buckets: int


class StaleWriterError(RuntimeError):
    """A commit was attempted by a PKTable handle whose writer epoch has been
    superseded: another handle (a second engine over the same warehouse)
    claimed the table since this handle's first write. The single-active-
    engine contract is enforced at two points -- commit entry (_fence) and
    again immediately before the manifest swap (_write_manifest) -- so a
    stale committer fails fast instead of silently interleaving manifests,
    even when supersession lands mid-way through its Spark write job. The
    residual window is the microseconds between the final re-check and
    os.replace; in production this maps onto the table format's own
    transaction protocol (Delta/Iceberg optimistic commit conflict), which
    closes it entirely."""

# Superseded bucket directories linger this long before removal: a reader
# that planned against an older manifest (a concurrent refresh job, a
# captured snapshot DataFrame) keeps resolving its files. The production
# analogue is table-format snapshot expiry (Delta VACUUM retention / Iceberg
# expire_snapshots); immediate deletion is available via gc_grace_secs=0.
GC_GRACE_SECS = 300.0

# Per-table-path commit locks: independent streaming queries (e.g. the
# tickets and movies pipelines refreshing one serving table) run foreachBatch
# callbacks on different driver threads; an unlocked read-modify-write of the
# manifest could interleave and lose bucket pointers / txn markers. All
# writers in this process serialize commits per table path; a multi-driver
# production deployment maps this onto the table format's own transaction
# protocol (Delta/Iceberg optimistic commit).
_COMMIT_LOCKS: dict[str, threading.RLock] = {}
_COMMIT_LOCKS_GUARD = threading.Lock()


def _commit_lock(path: str) -> threading.RLock:
    key = os.path.realpath(path)
    with _COMMIT_LOCKS_GUARD:
        return _COMMIT_LOCKS.setdefault(key, threading.RLock())


def _bucket_expr(keys: Sequence[str], n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")


def _check_n_buckets(n_buckets: int) -> None:
    # pmod by 0 fails every write; a negative count hashes keys into
    # buckets -n+1..n-1, so neither may reach a manifest
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")


def _replace_json(dest: str, obj, **dump_kw) -> None:
    """Atomically replace the JSON file ``dest`` with ``obj``. The temp
    file is writer-unique (mkstemp in dest's dir): with a shared temp
    name, two processes writing the same file at once could rename each
    other's half-written file into place (a torn file every reader then
    crashes on) or crash on the vanished temp file."""
    fd, tmp = tempfile.mkstemp(prefix=os.path.basename(dest) + ".",
                               suffix=".tmp", dir=os.path.dirname(dest))
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, indent=1, **dump_kw)
        os.replace(tmp, dest)
    except BaseException:
        with contextlib.suppress(OSError):
            os.unlink(tmp)
        raise


# on-disk (compressed) pending-delta bytes up to which the merge-on-read
# anti join broadcasts its distinct delta-key side; above it the join pins
# sort-merge. Sized well under the session's 64m autoBroadcastJoinThreshold:
# the key projection of 32 MiB of columnar delta decompresses toward the
# threshold, never past the r15 audit's observed 2x overshoot regime.
# merge() gates its batch key set on the same bound (see _fold).
DELTA_BROADCAST_MAX_BYTES = 32 * 1024 * 1024


def _as_nullable(t):
    """A schema's JSON (``DataType.jsonValue()``) with every field, array
    element and map value nullable: the form file sources read a written
    schema back in, so equal payloads always record equal schemas."""
    if not isinstance(t, dict):
        return t
    t = dict(t)
    if t["type"] == "struct":
        t["fields"] = [
            {**f, "nullable": True, "type": _as_nullable(f["type"])}
            for f in t["fields"]
        ]
    elif t["type"] == "array":
        t.update(containsNull=True, elementType=_as_nullable(t["elementType"]))
    elif t["type"] == "map":
        t.update(valueContainsNull=True, keyType=_as_nullable(t["keyType"]),
                 valueType=_as_nullable(t["valueType"]))
    return t


def _bucket_colocate(df: DataFrame, n_partitions: int) -> DataFrame:
    """Hash-shuffle the write set so every bucket's rows land in ONE task,
    hence ONE file per bucket dir per commit (Paimon's bucketed-sink shape:
    writer parallelism is bounded by the bucket count). Without it,
    ``partitionBy('__bucket')`` has every upstream partition write its own
    sliver into every bucket dir, and per-bucket FILE count, not bucket
    count, dominates point-read open cost: an 8-key lookup against a
    64-bucket table opened 256 files instead of <= 8. The shuffle moves
    only the rows being rewritten, and row groups keep the bigger
    per-bucket files scan-splittable."""
    return df.repartition(max(1, n_partitions), "__bucket")


def _dir_bytes(dirs: Sequence[str]) -> int:
    """Total on-disk bytes under ``dirs`` -- filesystem metadata only, the
    same true-size signal compaction thresholds use; never reads data."""
    total = 0
    for d in dirs:
        for root, _subdirs, files in os.walk(d):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass  # concurrently GC'd file: size 0 is the safe read
    return total


class PKTable:
    """A hash-bucketed upsert table rooted at ``path``.

    Schema contract: ``merge`` and ``ingest`` consume changelog batches
    carrying the payload columns plus ``op`` ('I'/'U'/'D') and the ordering
    columns; the resolved snapshot holds payload columns only (latest row
    per key, deletes absent). merge folds affected buckets eagerly
    (O(bucket) per touched bucket); ingest appends per-bucket delta files
    (O(|batch|), merge-on-read, compaction amortizes the fold) -- see the
    module docstring's delta-ingest section for when each pays off.
    Reads: ``snapshot()`` (full table / time travel) and ``lookup(probe)``
    (bucket-pruned point read of the probed keys -- the Fluss PK-table
    serving shape its 'bucket.num' exists for). Maintenance: ``compact()``
    (fold pending deltas) and ``rescale(n)`` (offline bucket-count rewrite,
    Paimon's rescale-bucket procedure -- the serving lever for a table
    that outgrew its creation-time count). Every writer commits through
    `_write_version` + `_commit`; every read resolves dirs through
    `_live_dirs`.
    """

    def __init__(self, spark: SparkSession, path: str, keys: Sequence[str],
                 order_by: Sequence[str], n_buckets: int = 4,
                 gc_grace_secs: float = GC_GRACE_SECS,
                 data_format: str = "parquet") -> None:
        _check_n_buckets(n_buckets)
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.order_by = list(order_by)
        self.n_buckets = n_buckets
        self.gc_grace_secs = gc_grace_secs
        # lake format: the reference deploys Paimon OR Iceberg tiering
        # (deploy:316-358) behind one table interface; the analogue here is
        # a second Spark-native columnar format behind the SAME manifest/
        # bucket/txn machinery -- every semantic (atomic snapshot swap,
        # bucket pruning, idempotent txns, GC grace) is format-agnostic
        if data_format not in ("parquet", "orc"):
            raise ValueError(f"unsupported data_format: {data_format!r}"
                             " (parquet and orc are the Spark-native columnar stores)")
        self.data_format = data_format
        # writer-epoch fence state: claimed lazily at this handle's FIRST
        # write (a read-only handle never claims), checked at every commit
        self._epoch: int | None = None
        os.makedirs(path, exist_ok=True)
        if not os.path.exists(self._manifest_path):
            self._write_manifest(
                {"buckets": {}, "txn": {}, "version": 0, "n_buckets": n_buckets,
                 "format": data_format, "history": [], "history_floor": 0}
            )
        else:
            # bucket count and lake format are CREATION-time table properties
            # (the reference's 'bucket.num', tickets-cdc.sql:34): reopening
            # with a different ctor value must not re-route keys -- a merge
            # would rewrite only the new-numbered bucket and the key's old
            # row survives in the old one (duplicate PKs with no error) --
            # or misread existing files. Adopt the stored values.
            stored = self._read_manifest()
            if stored.get("n_buckets") is not None:
                self.n_buckets = stored["n_buckets"]
            self.data_format = stored.get("format", "parquet")

    # -- manifest ---------------------------------------------------------

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, MANIFEST)

    def _read_manifest(self) -> dict:
        with open(self._manifest_path) as f:
            m = json.load(f)
        # adopt a rescale() committed through ANOTHER handle: bucket count
        # is a table property owned by the manifest, and a handle that kept
        # hashing with a stale count would write rows into buckets the
        # current map does not route reads to. Every read/write path reads
        # the manifest first (writers under the commit lock), so adopting
        # here keeps self.n_buckets correct everywhere without per-site
        # refreshes.
        if m.get("n_buckets") is not None:
            self.n_buckets = m["n_buckets"]
        return m

    def _write_manifest(self, m: dict) -> None:
        # last line of defense for the writer fence (T4): the commit-entry
        # _fence() check can be seconds stale by the time the Spark write job
        # finishes, and last-writer-wins os.replace would clobber a rival
        # engine's committed manifest. Re-checking here shrinks the lost-
        # commit window from a whole write job to the microseconds between
        # this check and the rename. A raise at this point leaves at most an
        # orphaned, never-referenced v-dir on disk -- no manifest damage.
        if self._epoch is not None and self._latest_epoch() > self._epoch:
            raise StaleWriterError(
                f"writer epoch {self._epoch} superseded by"
                f" {self._latest_epoch()} at {self.path} during commit:"
                " another engine claimed this table mid-write; aborting"
                " before the manifest swap"
            )
        # mkstemp + os.replace also protects the one unfenced write:
        # first-open manifest creation by two processes at once
        _replace_json(self._manifest_path, m)

    # -- writer-epoch fence -------------------------------------------------

    @property
    def _epoch_dir(self) -> str:
        return os.path.join(self.path, "_epochs")

    def _latest_epoch(self) -> int:
        try:
            names = os.listdir(self._epoch_dir)
        except FileNotFoundError:
            return 0
        return max(
            (int(n[6:]) for n in names if n.startswith("epoch.")), default=0
        )

    def _fence(self) -> None:
        """Claim this handle's writer epoch on first write (an O_EXCL marker
        file, atomic even across processes -- no JSON read-modify-write);
        afterwards fail fast whenever a NEWER epoch exists: the table was
        claimed by another engine and this handle must not commit again."""
        if self._epoch is None:
            os.makedirs(self._epoch_dir, exist_ok=True)
            n = self._latest_epoch() + 1
            while True:
                try:
                    fd = os.open(
                        os.path.join(self._epoch_dir, f"epoch.{n}"),
                        os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                    )
                    os.close(fd)
                    break
                except FileExistsError:  # lost the claim race; take the next
                    n += 1
            self._epoch = n
            # Deliberately NO cleanup of older markers: unlinking a smaller
            # epoch re-opens it for O_EXCL creation, so a lagging claimer
            # could re-claim an epoch another process already holds
            # (found by tests/test_pk_table_fence.py's 8-process race --
            # duplicates stayed SAFE, since a duplicated epoch can never be
            # the max and both holders fail the staleness check, but epoch
            # numbers lost uniqueness as writer identities). Markers
            # accumulate one tiny file per ENGINE CLAIM (a rare handoff
            # event, not per commit), so the dir stays small forever.
            return
        latest = self._latest_epoch()
        if latest > self._epoch:
            raise StaleWriterError(
                f"writer epoch {self._epoch} superseded by {latest} at"
                f" {self.path}: another engine claimed this table; this"
                " handle must not commit (single-active-engine contract)"
            )

    # -- read -------------------------------------------------------------

    def snapshot(self, version: int | None = None) -> DataFrame | None:
        """Table state as a DataFrame (None when empty).

        ``version=N`` time-travels to the state right after manifest version
        N was committed (the lakehouse snapshot-read surface; version 0 is
        the empty table). Past states stay readable while their superseded
        bucket dirs survive GC grace and their history entries retention --
        a pruned/expired version raises instead of returning a wrong state,
        exactly Iceberg's expire_snapshots contract.
        """
        m = self._read_manifest()
        buckets = m["buckets"] if version is None else self._buckets_at(m, version)
        return self._resolve_dirs(*self._live_dirs(buckets, version),
                                  self._at(m, version, "schema", m.get("schema")))

    def lookup(self, probe: DataFrame, version: int | None = None) -> DataFrame | None:
        """Bucket-pruned point read -- the Fluss PK-table lookup serving
        shape (the reference's tables declare 'bucket.num' for exactly
        this, flink-gen.sh:118-142): resolve ONLY the buckets the probed
        keys hash into and return those keys' current rows.

        Cost: one Spark job to build the read -- the eager pin of the
        probe keys (cast to the stored key types the manifest's schema
        records), whose observation reports the set of bucket ids they
        hash to (bounded by n_buckets scalars, never per key) -- then, when
        the result is read, a scan of the touched buckets' base + pending
        delta files in the recorded schema and one left-semi join (which
        ignores duplicate probe keys, so the probe is not deduplicated
        first). A k-key lookup against an N-bucket table reads at most
        min(k, N)/N of it -- at 100 TB that is the difference between a
        point read and a table scan -- and nothing table-sized shuffles
        (the delta fold is the anti/union resolve). Missing keys have no
        row; keys whose latest delta is a delete resolve to absent.
        ``version`` time-travels like snapshot().

        "No rows" is always a zero-row DataFrame in the table's schema --
        whether the probed keys are absent from live buckets or hash only
        into empty ones. None is returned ONLY when the table itself has
        no data dirs at all (nothing to source a schema from), matching
        snapshot()'s empty-table contract."""
        m = self._read_manifest()
        if version is None:
            buckets, nb = m["buckets"], self.n_buckets
        else:
            # a read at a pre-rescale version must hash the probe with the
            # bucket count IN EFFECT at that version -- the current count
            # would route keys to buckets that did not exist then
            buckets = self._buckets_at(m, version)
            nb = self._at(m, version, "nb", m.get("n_buckets", self.n_buckets))
        # xxhash64 is TYPE-sensitive (hash(1 int) != hash(1 bigint)), so a
        # probe whose key columns arrive in a different-but-compatible type
        # would hash into the WRONG buckets and silently miss every row:
        # align the probe to the stored key types first (from the
        # manifest's schema; a footer read only for a legacy manifest).
        schema_src = self._empty_frame(
            buckets, self._at(m, version, "schema", m.get("schema"))
        )
        if schema_src is None:
            return None  # table has no data dirs at all: nothing to serve
        stored = {f.name: f.dataType for f in schema_src.schema.fields}
        # pin the probe key set, observing its bucket ids in the same job:
        # the same materialized keys must feed BOTH the pruning set and the
        # semi join below. A non-deterministic or transient probe (sampled
        # / rand-derived / a re-evaluated micro-batch) re-run differently
        # between the two would join keys whose buckets were never
        # selected -- silently missing rows. merge()/ingest() pin their
        # batch for the same reason.
        obs = Observation()
        keysel = (
            probe.select(
                *[F.col(k).cast(stored[k]).alias(k) for k in self.keys]
            )
            .observe(obs, F.collect_set(_bucket_expr(self.keys, nb)).alias("b"))
            .localCheckpoint(eager=True)
        )
        wanted = set(obs.get["b"])
        sel = {
            k: d for k, d in buckets.items()
            if int(k.split("#", 1)[0]) in wanted
        }
        base_dirs, delta_dirs = self._live_dirs(sel, version)
        if not base_dirs and not delta_dirs:
            return schema_src  # every probed bucket empty: zero rows
        resolved = self._resolve_dirs(base_dirs, delta_dirs, schema_src.schema)
        # the semi join reorders the key columns first; serve the stored
        # column order so both "no rows" shapes and the hit path agree
        return resolved.join(keysel, list(self.keys), "left_semi").select(
            *schema_src.columns
        )

    def _empty_frame(self, buckets: dict,
                     schema: dict | StructType | None) -> DataFrame | None:
        """Zero-row frame in the table's serving schema over any live data
        dir (base dirs preferred; a delta dir's internal __op/__dv columns
        are dropped). None only when the table has no data dirs at all,
        matching snapshot()'s empty-table contract."""
        for k, d in sorted(buckets.items(), key=lambda kv: "#" in kv[0]):
            p = os.path.join(self.path, d)
            if os.path.exists(p):
                df = self._read([p], schema, delta="#" in k).limit(0)
                return df.drop("__op", "__dv")
        return None

    def _live_dirs(self, pointers: dict[str, str],
                   version: int | None = None) -> tuple[list[str], list[str]]:
        """The (base, delta) dirs of bucket ``pointers`` that exist on disk.
        A versioned read raises instead when any of them was
        garbage-collected: an expired version is never answered from the
        dirs that are left."""
        dirs = {k: os.path.join(self.path, d) for k, d in pointers.items()}
        live = {k: d for k, d in dirs.items() if os.path.exists(d)}
        if version is not None and len(live) < len(dirs):
            gone = [d for k, d in dirs.items() if k not in live]
            raise ValueError(
                f"snapshot v{version} expired: data dirs {gone} were"
                " garbage-collected (raise gc_grace_secs to retain"
                " longer time-travel windows)"
            )
        return ([d for k, d in live.items() if "#" not in k],
                [d for k, d in live.items() if "#" in k])

    def _read(self, dirs: list[str], schema: dict | StructType | None,
              delta: bool = False) -> DataFrame:
        """Scan ``dirs`` in the recorded payload ``schema`` -- plus the
        __op/__dv columns for delta dirs -- so the scan infers nothing from
        file footers (that inference is a Spark job per read). ``None``
        (a manifest that predates schema recording) reads by inference."""
        reader = self.spark.read.format(self.data_format)
        if schema is not None:
            st = StructType.fromJson(schema) if isinstance(schema, dict) else schema
            if delta:
                st = StructType([*st.fields, StructField("__op", StringType()),
                                 StructField("__dv", LongType())])
            reader = reader.schema(st)
        return reader.load(dirs)

    def _fold(self, base: DataFrame, newer_keys: DataFrame, newer: DataFrame,
              small: bool) -> DataFrame:
        """Last-writer-wins fold of unique-per-key ``base`` rows under a
        newer set: ``base`` ANTI JOIN ``newer_keys`` UNION ``newer``. A base
        row survives only when no newer row (a delete included) has its
        key, so nothing is windowed and only ``newer`` needs a per-key
        order. The key side broadcasts when ``small`` (the caller's size
        gate against DELTA_BROADCAST_MAX_BYTES) and pins sort-merge
        otherwise -- the one shape whose memory stays partition-bounded
        when the newer set scales with the table."""
        newer_keys = F.broadcast(newer_keys) if small else newer_keys.hint("merge")
        return base.join(newer_keys, list(self.keys), "left_anti").unionByName(newer)

    def _resolve_dirs(
        self, base_dirs: list[str], delta_dirs: list[str],
        schema: dict | StructType | None,
    ) -> DataFrame | None:
        """Merge-on-read over base + delta files: latest row per key by
        commit version (delta files carry their commit version in the
        stored `__dv` column; base rows are version 0 by construction --
        every delta postdates the base fold that preceded it), then drop
        delete markers.

        Shuffle discipline (the 100 TB shape of this read): base rows are
        unique per key AND always lose last-writer resolution to any delta
        row (base is version 0, every delta postdates it), so a base row
        only survives when NO delta touches its key. The read is therefore

            base ANTI-JOIN (distinct delta keys)  UNION  latest(deltas)

        -- the _fold recipe merge() shares: ONE pruned scan of the base
        streaming through an anti join (broadcast when the delta key set
        is small, the daily-ingest case) and a window over the delta rows
        alone. Nothing table-sized is ever shuffled or windowed at any
        delta depth (folding the whole base through the latest-by-key
        window cost a full-table shuffle per snapshot read; SCALE.md).
        Without deltas this is the plain pruned scan of the base."""
        base = self._read(base_dirs, schema) if base_dirs else None
        deltas = (
            self._read(delta_dirs, schema, delta=True) if delta_dirs else None
        )
        if deltas is None:
            return base
        resolved = (
            latest_by_key(deltas, self.keys, ["__dv"])
            .filter(F.col("__op") != OP_DELETE)
            .drop("__op", "__dv")
        )
        if base is None:
            return resolved
        # join-strategy gate on the TRUE on-disk delta size: the distinct
        # delta-key frame is an aggregate over a pruned scan, whose static
        # estimate undershoots so badly that the planner (and even the
        # AQE-final plan) broadcast a 16M-key build side at 2x the 64m
        # threshold. Daily-ingest deltas broadcast (no exchange added over
        # the compacted read); a bulk-backfill backlog pins sort-merge.
        return self._fold(
            base, deltas.select(*self.keys).distinct(), resolved,
            _dir_bytes(delta_dirs) <= DELTA_BROADCAST_MAX_BYTES,
        )

    def version_at(self, ts: float) -> int:
        """The largest committed version whose commit time is <= ``ts`` --
        the timestamp half of the time-travel surface (Iceberg's
        snapshot-as-of-timestamp resolution over committed_at).

        Edges: ``ts`` between two commits resolves to the EARLIER one (the
        state a reader at that wall-clock instant saw); ``ts`` before the
        first commit ever resolves to version 0, the empty table; ``ts``
        older than the retained history (or predating commit timestamping)
        raises as expired -- never mis-answers with a guessed state."""
        m = self._read_manifest()
        hist = m.get("history", [])
        stamped = [e for e in hist if e.get("ts") is not None]
        at_or_before = [e["v"] for e in stamped if e["ts"] <= ts]
        if at_or_before:
            return max(at_or_before)
        # ts precedes every stamped commit: only safe to call it "the empty
        # table" when history provably reaches back to the very first commit
        # (v1 retained AND stamped -- an unstamped or truncated head means
        # the real state at ts is unknowable from this manifest)
        if stamped and hist[0]["v"] == 1 and hist[0].get("ts") is not None:
            return 0
        raise ValueError(
            f"no commit history resolves timestamp {ts}: history is"
            f" retained back to v{m.get('history_floor', 0) + 1}"
            " (or predates commit timestamping); raise HISTORY_KEEP or"
            " query by VERSION AS OF instead"
        )

    def _buckets_at(self, m: dict, version: int) -> dict[str, str]:
        """Reconstruct the bucket-pointer map as of manifest `version` by
        walking the commit history backwards from the current map, undoing
        each later commit's recorded deltas."""
        if version > m["version"] or version < 0:
            raise ValueError(
                f"unknown version {version} (current is {m['version']})"
            )
        # a legacy manifest (written before commit history existed) can
        # reconstruct NO earlier version; treating its missing floor as 0
        # would silently return the current bucket map labeled as version N.
        # Expired reads must raise, never mis-answer.
        floor = m.get(
            "history_floor", m["version"] if "history" not in m else 0
        )
        if version < floor:
            raise ValueError(
                f"snapshot v{version} expired: history retained back to"
                f" v{floor} only (HISTORY_KEEP commits)"
            )
        buckets = dict(m["buckets"])
        for e in sorted(m.get("history", []), key=lambda e: -e["v"]):
            if e["v"] <= version:
                break
            for b, old in e["changed"].items():
                if old is None:
                    buckets.pop(b, None)
                else:
                    buckets[b] = old
        return buckets

    @staticmethod
    def _at(m: dict, version: int | None, field: str, current):
        """A table property in effect at manifest ``version`` (``current``
        when ``version`` is None) -- the same backwards history walk as
        _buckets_at, undoing each later commit that recorded the property's
        PRIOR value under ``field``: a rescale records its pre-rescale
        count as ``nb``, a schema-changing data commit its prior schema as
        ``schema``. Bounds/floor checks ride on _buckets_at, which every
        versioned caller runs first."""
        if version is None:
            return current
        for e in sorted(m.get("history", []), key=lambda e: -e["v"]):
            if e["v"] <= version:
                break
            if field in e:
                current = e[field]
        return current

    def snapshot_at_batch(self, writer_id: str, batch_id: int) -> DataFrame | None:
        """Read-at-batch: the table state right after `writer_id` committed
        `batch_id` (the newest data commit from that writer at or below the
        id -- empty batches advance the txn watermark without a version)."""
        m = self._read_manifest()
        versions = [
            e["v"]
            for e in m.get("history", [])
            if e.get("writer") == writer_id and e.get("batch") is not None
            and e["batch"] <= batch_id
        ]
        if not versions:
            raise ValueError(
                f"no retained commit from writer {writer_id!r} at or below"
                f" batch {batch_id} (history floor v{m.get('history_floor', 0)})"
            )
        return self.snapshot(version=max(versions))

    def _record_commit(self, m: dict, version: int, writer_id: str | None,
                       batch_id: int | None, changed: dict,
                       schema: StructType | None = None) -> None:
        """Append the commit's history entry. ``schema`` is the payload
        schema the commit wrote (None: it wrote no data files); when it
        differs from the manifest's, the entry keeps the prior one (None
        for a fresh or legacy manifest: read by inference) so versioned
        reads use the schema in effect at their version."""
        # first commit over a legacy (pre-history) manifest: versions below
        # the previous one are unreconstructable -- pin the floor there so
        # they raise as expired instead of walking a partial history
        if "history" not in m:
            m["history_floor"] = max(m.get("history_floor", 0), version - 1)
        hist = m.get("history", [])
        # commit wall-clock: the FOR SYSTEM_TIME AS OF resolution index
        # (Iceberg snapshots record committed_at the same way); monotonicity
        # is enforced so a clock step-back can never make a LATER commit
        # resolve to an EARLIER timestamp (which would break version_at's
        # "largest version at-or-before ts" contract)
        ts = time.time()
        if hist and hist[-1].get("ts") is not None:
            ts = max(ts, hist[-1]["ts"])
        entry = {"v": version, "writer": writer_id, "batch": batch_id,
                 "changed": changed, "ts": ts}
        if schema is not None:
            written = _as_nullable(schema.jsonValue())
            if written != m.get("schema"):
                entry["schema"] = m.get("schema")
                m["schema"] = written
        hist.append(entry)
        if len(hist) > HISTORY_KEEP:
            dropped = hist[: len(hist) - HISTORY_KEEP]
            hist = hist[len(hist) - HISTORY_KEEP:]
            m["history_floor"] = max(
                m.get("history_floor", 0), max(e["v"] for e in dropped)
            )
        m["history"] = hist

    def last_batch_id(self, writer_id: str) -> int:
        return self._read_manifest()["txn"].get(writer_id, -1)

    def current_version(self) -> int:
        """The manifest version: it moves with every data commit and stays
        put for a commit that only records a txn marker."""
        return self._read_manifest()["version"]

    # -- write ------------------------------------------------------------

    def pin(self, changes: DataFrame) -> PinnedBatch:
        """Tag each row of a batch that holds at most one row per key with
        its bucket and pin it -- the source micro-batch is transient, so
        every later read must see the same rows. The pinning job also
        reports the touched buckets and the row count through an
        observation: no extra job, and the set is bounded by n_buckets (one
        int per DISTINCT bucket, never per row). `merge` takes the result
        as it is, without collapsing or pinning it again."""
        obs = Observation()
        n_buckets = self.n_buckets
        frame = (
            changes.withColumn("__bucket", _bucket_expr(self.keys, n_buckets))
            .observe(obs, F.collect_set("__bucket").alias("b"),
                     F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        seen = obs.get
        return PinnedBatch(frame, sorted(seen["b"]), seen["n"], n_buckets)

    def _pin_batch(self, changes: DataFrame) -> PinnedBatch:
        """`pin` a changelog batch collapsed to its latest row per key (a
        batch may touch a key twice)."""
        return self.pin(latest_by_key(changes, self.keys, self.order_by))

    def _write_version(self, df: DataFrame, version: int, n_buckets: int,
                       n_parts: int) -> dict[int, str]:
        """Write ``df`` as ``v<version>`` in ONE partitioned job: each row
        tagged with its bucket, each bucket's rows co-located into one file
        (see _bucket_colocate, ``n_parts`` tasks). Returns bucket id -> dir
        (relative to the table root) for each bucket the write produced; a
        bucket whose keys were all deleted gets no dir."""
        vdir = f"v{version}"
        out = os.path.join(self.path, vdir)
        _bucket_colocate(
            df.withColumn("__bucket", _bucket_expr(self.keys, n_buckets)), n_parts
        ).write.partitionBy("__bucket").mode("overwrite").format(
            self.data_format
        ).save(out)
        written = sorted(int(n[len("__bucket="):]) for n in os.listdir(out)
                         if n.startswith("__bucket="))
        return {b: os.path.join(vdir, f"__bucket={b}") for b in written}

    def _commit(self, m: dict, version: int, pointers: dict[str, str | None],
                schema: StructType | None, writer_id: str | None = None,
                batch_id: int | None = None, prior_nb: int | None = None) -> None:
        """Commit manifest ``version``: point each key of ``pointers`` at its
        new dir (None drops the pointer), set the writer's txn marker,
        append the history entry (``schema`` is the payload written, None
        for no data files; ``prior_nb`` the bucket count a rescale
        replaced), queue every superseded dir for GC and swap the manifest.
        Dirs whose GC grace ran out are removed after the swap, so a crash
        can only under-delete."""
        # the history entry maps each changed pointer to its prior dir (None:
        # it did not exist) -- enough to undo this commit on a versioned read
        changed = {k: m["buckets"].get(k) for k in pointers}
        for k, d in pointers.items():
            if d is None:
                m["buckets"].pop(k, None)
            else:
                m["buckets"][k] = d
        m["version"] = version
        if writer_id is not None:
            m["txn"][writer_id] = batch_id
        self._record_commit(m, version, writer_id, batch_id, changed, schema)
        if prior_nb is not None:
            m["history"][-1]["nb"] = prior_nb
        expired = self._queue_gc(m, [d for d in changed.values() if d is not None])
        self._write_manifest(m)
        for d in expired:
            shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)

    def _queue_gc(self, m: dict, superseded: Sequence[str]) -> list[str]:
        """Age-based GC: newly superseded dirs enter the manifest's `gc`
        ledger; entries older than `gc_grace_secs` are returned for removal.
        Runs between the data write and the manifest swap."""
        now = time.time()
        pending = m.get("gc", []) + [{"dir": d, "ts": now} for d in superseded]
        keep: list[dict] = []
        expired: list[str] = []
        for e in pending:
            if now - e["ts"] >= self.gc_grace_secs:
                expired.append(e["dir"])
            else:
                keep.append(e)
        m["gc"] = keep
        return expired

    def merge(self, changes: DataFrame | PinnedBatch, batch_id: int | None = None,
              writer_id: str = "default", op_col: str = "op") -> None:
        """Apply a changelog micro-batch: upsert I/U rows, drop D keys.
        ``changes`` is a changelog frame, or a batch this table already
        `pin`ned (its bucket count is checked: a rescale since re-tags it).

        Idempotent per (writer_id, batch_id): replays of an already-applied
        batch are no-ops, giving exactly-once results over at-least-once
        delivery (K4/T4 semantics). Streaming callers MUST pass foreachBatch's
        batch_id so replays dedupe; batch callers may omit it, which
        auto-increments past the writer's last applied batch (an omitted id
        must never silently no-op a new batch).

        Commits serialize per table path (see _commit_lock), so concurrent
        pipelines merging into one serving table cannot interleave
        manifest updates.
        """
        with _commit_lock(self.path):
            self._merge_locked(changes, batch_id, writer_id, op_col)

    def _merge_locked(self, changes: DataFrame | PinnedBatch, batch_id: int | None,
                      writer_id: str, op_col: str) -> None:
        self._fence()
        m = self._read_manifest()
        if any("#" in k for k in m["buckets"]):
            # pending delta files: fold them first so the bucket rewrite
            # below sees every committed row (merge reads base dirs only)
            self._compact_locked()
            m = self._read_manifest()
        if batch_id is None:
            batch_id = m["txn"].get(writer_id, -1) + 1
        if m["txn"].get(writer_id, -1) >= batch_id:
            return

        if not isinstance(changes, PinnedBatch):
            changes = self._pin_batch(changes)
        elif changes.n_buckets != self.n_buckets:
            changes = self.pin(changes.frame.drop("__bucket"))
        batch_latest, affected, n_rows, _ = changes
        if not affected:
            m["txn"][writer_id] = batch_id
            self._write_manifest(m)
            return

        # fold the CURRENT state of only the affected buckets (bucket
        # pruning: untouched buckets are never read or rewritten) under the
        # batch: an old row survives unless the batch carries its key; the
        # batch's non-delete rows are the new state of the keys it carries
        payload_cols = [c for c in batch_latest.columns
                        if c not in (op_col, "__bucket")]
        written = batch_latest.filter(F.col(op_col) != OP_DELETE).select(
            *payload_cols
        )
        touched = {str(b) for b in affected}
        old_dirs, _ = self._live_dirs(
            {k: d for k, d in m["buckets"].items() if k in touched}
        )
        if old_dirs:
            # the batch key set broadcasts under the merge-on-read's gate,
            # sized from the pinned row count and Spark's per-type key width
            key_bytes = sum(
                batch_latest._jdf.schema().apply(k).dataType().defaultSize()
                for k in self.keys
            )
            written = self._fold(
                self._read(old_dirs, m.get("schema")),
                batch_latest.select(*self.keys),
                written,
                n_rows * key_bytes <= DELTA_BROADCAST_MAX_BYTES,
            ).select(*payload_cols)
        version = m["version"] + 1
        dirs = self._write_version(written, version, self.n_buckets, len(affected))
        self._commit(m, version, {str(b): dirs.get(b) for b in affected},
                     written.schema, writer_id, batch_id)

    # -- delta ingest (LSM write path) --------------------------------------

    def ingest(self, changes: DataFrame, batch_id: int | None = None,
               writer_id: str = "default", op_col: str = "op",
               compact_threshold: int = 8) -> None:
        """Append a micro-batch as per-bucket DELTA files -- O(|batch|)
        write cost, nothing existing read or rewritten (vs merge(), whose
        bucket folds cost O(table) for a uniformly-hashed batch). Reads
        resolve base+deltas latest-per-key by commit version (same
        last-writer-wins rule as merge's fold); delete ops are
        retained as markers until compaction. Idempotent per
        (writer_id, batch_id), fenced, time-travelable -- identical
        guarantees to merge because the delta pointers live in the same
        manifest maps the existing machinery replays.

        When any bucket accumulates more than ``compact_threshold`` deltas,
        compaction folds them into the base in ONE rewrite -- amortizing
        the table rewrite over that many ingests (Paimon's in-bucket LSM,
        num-sorted-run.compaction-trigger). The day-2 serving-index path:
        a daily band/code batch lands at batch cost every day, and the
        full-table cost is paid once per threshold-many days."""
        with _commit_lock(self.path):
            self._ingest_locked(changes, batch_id, writer_id, op_col,
                                compact_threshold)

    def _ingest_locked(self, changes: DataFrame, batch_id: int | None,
                       writer_id: str, op_col: str,
                       compact_threshold: int) -> None:
        # unlike merge()'s transient use, ingest PERSISTS __op/__dv/__bucket
        # into the delta files as merge-on-read metadata -- a payload column
        # with one of these names would corrupt resolution, so refuse it
        reserved = {"__op", "__dv", "__bucket"} & (set(changes.columns) - {op_col})
        if reserved:
            raise ValueError(
                f"ingest payload columns {sorted(reserved)} collide with the"
                " delta files' reserved merge-on-read columns"
                " (__op/__dv/__bucket); rename them before ingesting"
            )
        self._fence()
        m = self._read_manifest()
        if batch_id is None:
            batch_id = m["txn"].get(writer_id, -1) + 1
        if m["txn"].get(writer_id, -1) >= batch_id:
            return

        batch_latest, affected, _, _ = self._pin_batch(changes)
        if not affected:
            m["txn"][writer_id] = batch_id
            self._write_manifest(m)
            return

        version = m["version"] + 1
        payload_cols = [c for c in batch_latest.columns
                        if c not in (op_col, "__bucket")]
        # one delta file per touched bucket per commit (Paimon's
        # one-sorted-run-per-commit); delete rows stay as markers
        delta = batch_latest.select(
            *payload_cols, F.col(op_col).alias("__op"),
            F.lit(version).cast("long").alias("__dv"),
        )
        dirs = self._write_version(delta, version, self.n_buckets, len(affected))
        self._commit(m, version, {f"{b}#d{version}": d for b, d in dirs.items()},
                     batch_latest.select(*payload_cols).schema, writer_id, batch_id)

        depth: dict[str, int] = {}
        for k in m["buckets"]:
            if "#" in k:
                b = k.split("#", 1)[0]
                depth[b] = depth.get(b, 0) + 1
        if depth and max(depth.values()) > compact_threshold:
            self._compact_locked()

    def compact(self) -> None:
        """Fold every pending delta file into its bucket's base -- the LSM
        compaction. A no-op without deltas; otherwise one commit that
        rewrites exactly the buckets holding deltas. Superseded base and
        delta dirs keep their GC grace, so time travel across the
        compaction boundary keeps working."""
        with _commit_lock(self.path):
            self._compact_locked()

    def _compact_locked(self) -> None:
        self._fence()
        m = self._read_manifest()
        touched = sorted({k.split("#", 1)[0] for k in m["buckets"] if "#" in k})
        if not touched:
            return
        # the base and every delta of each bucket holding deltas
        sel = {k: d for k, d in m["buckets"].items()
               if k.split("#", 1)[0] in touched}
        resolved = self._resolve_dirs(*self._live_dirs(sel), m.get("schema"))
        version = m["version"] + 1
        dirs = {} if resolved is None else self._write_version(
            resolved, version, self.n_buckets, len(touched))
        self._commit(
            m, version,
            {**dict.fromkeys(sel), **{b: dirs.get(int(b)) for b in touched}},
            None if resolved is None else resolved.schema,
        )

    def overwrite(self, df: DataFrame) -> None:
        """Full snapshot replace (used for seeding / batch backfills)."""
        with _commit_lock(self.path):
            self._overwrite_locked(df)

    def _overwrite_locked(self, df: DataFrame) -> None:
        self._fence()
        m = self._read_manifest()
        version = m["version"] + 1
        dirs = self._write_version(df, version, self.n_buckets, self.n_buckets)
        # a full replace starts a new txn epoch: keeping the per-writer
        # high-watermarks would silently no-op every merge from a stream
        # restarted with a fresh checkpoint (batch ids restart at 0), freezing
        # the table at the seed. Re-seeding + replay stays safe without them:
        # a replayed upsert re-applies the same latest-per-key rows.
        m["txn"] = {}
        # ...and the retained history must follow the txn reset: a restarted
        # stream reuses batch ids from 0, so pre-overwrite (writer, batch)
        # tags would let snapshot_at_batch silently answer a NEW-epoch probe
        # with an OLD-epoch state. Strip the tags (version time travel keeps
        # working -- the undo deltas are untouched); read-at-batch then only
        # matches commits from the current epoch.
        for e in m.get("history", []):
            e["writer"] = None
            e["batch"] = None
        # every current pointer (base and delta) goes; the written buckets
        # come in
        replace = {**dict.fromkeys(m["buckets"]), **{str(b): d for b, d in dirs.items()}}
        self._commit(m, version, replace, df.schema)

    def rescale(self, n_buckets: int) -> None:
        """Offline bucket rescale -- Paimon's documented rescale-bucket
        procedure (an offline full rewrite; Fluss/Paimon cannot rescale a
        PK table in place because bucket routing is the primary-key hash).
        At 100 TB this is THE serving lever: a k-key lookup() reads
        ~1/n_buckets of the table per probed key, so a table that grew 10x
        past its creation-time 'bucket.num' (tickets-cdc.sql:34) serves
        10x-too-coarse point reads until it is rescaled.

        One commit: the fully resolved snapshot (pending ingest deltas are
        folded -- the rewrite is table-sized anyway) is re-hashed into
        ``n_buckets`` buckets and swapped in atomically. Content is
        IDENTICAL before and after, so unlike overwrite() the per-writer
        txn watermarks and read-at-batch history tags survive: replayed
        batches still dedupe, snapshot_at_batch still answers. Time travel
        across the boundary keeps working -- the commit records the prior
        bucket pointers AND the prior bucket count (the ``nb`` history
        field), so versioned snapshot()/lookup() reads hash with the count
        in effect at that version. Superseded dirs keep their GC grace.
        Same-count rescale is a no-op (no version burned)."""
        _check_n_buckets(n_buckets)
        with _commit_lock(self.path):
            self._rescale_locked(n_buckets)

    def _rescale_locked(self, n_buckets: int) -> None:
        self._fence()
        m = self._read_manifest()
        prev_nb = m.get("n_buckets", self.n_buckets)
        if n_buckets == prev_nb:
            return
        snap = self.snapshot()
        version = m["version"] + 1
        # every row moves once, straight from the pruned scan to its new bucket
        dirs = {} if snap is None else self._write_version(
            snap, version, n_buckets, n_buckets)
        replace = {**dict.fromkeys(m["buckets"]), **{str(b): d for b, d in dirs.items()}}
        m["n_buckets"] = n_buckets
        self._commit(m, version, replace, None if snap is None else snap.schema,
                     prior_nb=prev_nb)
        self.n_buckets = n_buckets
