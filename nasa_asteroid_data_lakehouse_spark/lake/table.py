"""VersionedTable: a minimal manifest-based transactional table.

The reference maintains gold tables by reading, unioning, deduping and
overwriting the whole parquet directory in place (reference
``src/utils/bucket.py:63-89``) — readers racing a writer see partial
state, failures lose the table, and every upsert rewrites everything.
Delta/Iceberg solve this with a transaction log; this module provides
the same guarantees with plain parquet + JSON manifests, Spark-first
and dependency-free:

* **Snapshot isolation**: a manifest (``_manifests/v{N}.json``) pins the
  exact data-file set; readers resolve a manifest once and never see a
  half-committed write.
* **Atomic commit**: data files are written first, then the manifest is
  published via temp-file + ``os.link`` (put-if-absent) — the commit
  *is* the manifest appearing, and a visible manifest is always a
  complete JSON document (atomic for readers as well as writers).
  Optimistic concurrency: two writers racing to the same version ->
  exactly one wins, the loser retries on top.
* **Time travel**: ``read(version=N)`` / ``history()``.
* **Bucket-pruned upsert**: rows are hash-bucketed by key into fixed
  buckets; a merge rewrites ONLY the buckets that contain incoming
  keys.  An upsert touching 1% of keys rewrites ~1% of the table
  (vs the reference's 100%), and old files stay for time travel.

At 100 TB the same design works with the manifest in an object store
using put-if-absent, and bucket count sized so one bucket ≈ one
executor's worth of data.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CommitConflict(RuntimeError):
    """Another writer committed this version first; retry on latest."""


class VersionedTable:
    def __init__(self, spark: SparkSession, root: str, num_buckets: int = 16):
        self.spark = spark
        self.root = root
        self.num_buckets = num_buckets
        os.makedirs(self._manifest_dir, exist_ok=True)
        os.makedirs(self._data_dir, exist_ok=True)

    # --- paths ---------------------------------------------------------------

    @property
    def _manifest_dir(self) -> str:
        return os.path.join(self.root, "_manifests")

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.root, "data")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._manifest_dir, f"v{version:08d}.json")

    # --- manifest I/O --------------------------------------------------------

    def latest_version(self) -> int | None:
        versions = [
            int(f[1:-5])
            for f in os.listdir(self._manifest_dir)
            if f.startswith("v") and f.endswith(".json")
        ]
        return max(versions) if versions else None

    def _load_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    def _stream_watermarks(self, version: int | None) -> dict[str, int]:
        """The carried-forward ``{app_id: max applied batch_id}`` map as
        of ``version`` (empty when unknown / pre-watermark manifests)."""
        if version is None or version < 0:
            return {}
        try:
            m = self._load_manifest(version)
        except FileNotFoundError:
            return {}
        return {str(k): int(v) for k, v in m.get("stream_txn_watermarks", {}).items()}

    def _align_to_schema(self, df: DataFrame, manifest: dict) -> DataFrame:
        """Widen ``df`` with typed NULLs for manifest-schema columns it
        is missing (the upsert schema-merge contract: a narrow incoming
        batch never shrinks the table's logical schema; its rows read
        the absent columns as NULL).  Columns ``df`` carries that the
        manifest lacks are untouched — they WIDEN the schema."""
        from pyspark.sql.types import StructType

        schema_json = manifest.get("schema")
        if schema_json is None:
            return df
        for f in StructType.fromJson(schema_json).fields:
            if f.name != "__bucket" and f.name not in df.columns:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        return df

    @staticmethod
    def _cast_keys_to_schema(df: DataFrame, keys: list[str], manifest: dict) -> DataFrame:
        """Cast ``df``'s key columns to the table's key types where they
        differ.  ``xxhash64`` is type-sensitive: an int64 key hashed
        against an int32 table lands in the wrong bucket (a delete then
        misses its row; an upsert re-hashes the touched bucket's rows
        into buckets it did not read and drops those buckets' rows).
        Correctly typed frames come back unchanged, so their plans do
        not move."""
        from pyspark.sql.types import StructType

        schema_json = manifest.get("schema")
        if schema_json is None:
            return df
        table_types = {f.name: f.dataType for f in StructType.fromJson(schema_json).fields}
        df_types = {f.name: f.dataType for f in df.schema.fields}
        for k in keys:
            if k in table_types and df_types.get(k, table_types[k]) != table_types[k]:
                df = df.withColumn(k, F.col(k).cast(table_types[k]))
        return df

    def _walk_stream_markers(self, from_version: int) -> dict[str, int]:
        """Seed ``{app_id: max batch_id}`` by walking surviving
        manifests newest-first from ``from_version``.  Only needed for
        MIXED-ERA lineages: ``stream_txn`` markers committed before
        watermark folding existed were never absorbed into any
        ``stream_txn_watermarks`` map, so the first folding commit must
        absorb them here or the fast path in
        ``streaming.lakehouse.stream_batch_watermark`` would
        under-report and re-apply a replayed batch (ADVICE r09 #1).
        Walks all the way down to the vacuum boundary: folded maps are
        MERGED (max per app) and the walk CONTINUES past them, because
        maps folded by pre-fix code never absorbed the pre-fold
        ``stream_txn`` markers below them (ADVICE r10 #1) — max()
        merging makes the full walk safe, and this path only runs on
        the rare first-folding-commit seed, never per commit."""
        out: dict[str, int] = {}
        v = from_version
        while v >= 0:
            try:
                m = self._load_manifest(v)
            except FileNotFoundError:
                break  # vacuum truncated the log below here
            folded = m.get("stream_txn_watermarks")
            if folded is not None:
                for k, val in folded.items():
                    out[str(k)] = max(out.get(str(k), -1), int(val))
            txn = m.get("stream_txn")
            if txn:
                app = str(txn["app_id"])
                out[app] = max(out.get(app, -1), int(txn["batch_id"]))
            v -= 1
        return out

    def _commit(
        self,
        version: int,
        buckets: dict[str, list[str]],
        meta: dict,
        dvs: dict[str, list[str]] | None = None,
    ) -> None:
        """Publish a manifest with put-if-absent semantics — the atomic
        point of the transaction.

        The payload is fully written to a temp file first and published
        via ``os.link`` (atomic put-if-absent), so a concurrent reader
        that sees the manifest name can never observe a partial JSON —
        the O_EXCL-then-write form was atomic for writers only.

        Every commit carries the ``stream_txn_watermarks`` map forward
        from its parent, folding in this commit's ``stream_txn`` marker
        (if any).  Delta persists the per-appId txn watermark in the
        snapshot for the same reason: vacuum may truncate the manifests
        that held the individual markers, and the exactly-once replay
        guard must survive log truncation.

        ``dvs`` is the snapshot's deletion-vector map (bucket id ->
        key-file list, see :meth:`delete_where` ``deferred=True``).  It
        is EXPLICIT, never carried forward implicitly: each write path
        decides which buckets' vectors it materialized (and therefore
        drops) — an implicit carry would silently resurrect purged
        vectors after a rewrite."""
        watermarks = self._stream_watermarks(version - 1)
        txn = meta.get("stream_txn")
        if txn and not watermarks:
            # First folding commit on this lineage (a written map is
            # never empty, so an empty result means the parent lacks
            # one): absorb any pre-fold markers below before the head
            # starts advertising a trusted fast-path map.
            watermarks = self._walk_stream_markers(version - 1)
        if txn:
            app = str(txn["app_id"])
            watermarks[app] = max(watermarks.get(app, -1), int(txn["batch_id"]))
        payload = json.dumps(
            {
                "version": version,
                "committed_at": time.time(),
                "num_buckets": self.num_buckets,
                "buckets": buckets,
                **({"stream_txn_watermarks": watermarks} if watermarks else {}),
                **({"dvs": {b: fs for b, fs in dvs.items() if fs}} if dvs else {}),
                **meta,
            },
            indent=1,
        )
        path = self._manifest_path(version)
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            fh.write(payload)
        try:
            os.link(tmp, path)
        except FileExistsError as exc:
            raise CommitConflict(
                f"version {version} already committed by another writer"
            ) from exc
        finally:
            os.remove(tmp)

    # --- write paths ---------------------------------------------------------

    def _write_bucket_files(self, df: DataFrame, keys: list[str]) -> dict[str, list[str]]:
        """Write df hash-bucketed by key; returns bucket -> [files]."""
        txn = uuid.uuid4().hex[:8]
        out_dir = os.path.join(self._data_dir, txn)
        bucketed = df.withColumn(
            "__bucket", F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(self.num_buckets))
        )
        (
            bucketed.repartition(self.num_buckets, "__bucket")
            .write.partitionBy("__bucket")
            .mode("overwrite")
            .parquet(out_dir)
        )
        buckets: dict[str, list[str]] = {}
        for entry in os.listdir(out_dir):
            if entry.startswith("__bucket="):
                b = entry.split("=", 1)[1]
                files = [
                    os.path.join(out_dir, entry, f)
                    for f in os.listdir(os.path.join(out_dir, entry))
                    if f.endswith(".parquet")
                ]
                if files:
                    buckets[b] = sorted(files)
        return buckets

    def _merge_write_bucket_files(
        self,
        existing: DataFrame | None,
        incoming: DataFrame,
        keys: list[str],
        order_by: list | None = None,
    ) -> tuple["StructType", dict[str, list[str]]]:
        """``operators.merge.merge_dataframes`` + :meth:`_write_bucket_files`
        fused into ONE exchange (guide §2.4: two operations keyed the
        same way share an exchange).  ``__bucket = pmod(xxhash64(keys))``
        is a pure function of the merge keys, so every row of one key
        lands in one bucket partition — the survivor window can run
        partitioned by ``(__bucket, *keys)`` directly on top of the
        write's hash-repartition by ``__bucket`` (HashPartitioning on a
        subset of the window keys satisfies the window's required
        clustering), where the unfused form shuffled once for the
        key-window and AGAIN for the bucket write.  Same survivor rule:
        refining a window partition by a function of its keys changes
        no group, and the (priority, tiebreak) rank order is unchanged.
        Returns ``(merged logical schema, bucket -> [files])``."""
        from pyspark.sql.types import StructType  # noqa: F401 — return type
        from pyspark.sql.window import Window

        inc = incoming.withColumn("__prio", F.lit(0))
        if existing is not None:
            unioned = inc.unionByName(
                existing.withColumn("__prio", F.lit(1)),
                allowMissingColumns=True,
            )
        else:
            unioned = inc
        schema = unioned.drop("__prio").schema
        tiebreak = (
            list(order_by) if order_by else [F.monotonically_increasing_id()]
        )
        bucketed = unioned.withColumn(
            "__bucket",
            F.pmod(
                F.xxhash64(*[F.col(k) for k in keys]), F.lit(self.num_buckets)
            ),
        )
        w = Window.partitionBy("__bucket", *keys).orderBy(
            F.col("__prio"), *tiebreak
        )
        merged = (
            bucketed.repartition(self.num_buckets, "__bucket")
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn", "__prio")
        )
        txn = uuid.uuid4().hex[:8]
        out_dir = os.path.join(self._data_dir, txn)
        (
            merged.write.partitionBy("__bucket")
            .mode("overwrite")
            .parquet(out_dir)
        )
        buckets: dict[str, list[str]] = {}
        for entry in os.listdir(out_dir):
            if entry.startswith("__bucket="):
                b = entry.split("=", 1)[1]
                files = [
                    os.path.join(out_dir, entry, f)
                    for f in os.listdir(os.path.join(out_dir, entry))
                    if f.endswith(".parquet")
                ]
                if files:
                    buckets[b] = sorted(files)
        return schema, buckets

    def _buckets_of_key_values(
        self, manifest: dict, keys: list[str], key_values: list[tuple]
    ) -> set[int]:
        """Bucket ids the given key tuples hash to — evaluated with the
        writer's own ``pmod(xxhash64(keys), n)`` expression on an
        O(|tuples|) driver-built frame, typed from the snapshot schema
        (``xxhash64`` is type-sensitive: hashing an int where the table
        stores bigint would prune the WRONG buckets)."""
        from pyspark.sql.types import StructField, StructType

        schema_json = manifest.get("schema")
        if schema_json is None:
            # pre-schema manifest: no reliable key typing — no pruning
            return set(range(self.num_buckets))
        full = StructType.fromJson(schema_json)
        by_name = {f.name: f for f in full.fields}
        key_schema = StructType(
            [StructField(k, by_name[k].dataType, True) for k in keys]
        )
        rows = [tuple(kv) if isinstance(kv, (tuple, list)) else (kv,)
                for kv in key_values]
        probe = self.spark.createDataFrame(rows, key_schema)
        return {
            r["__b"]
            for r in probe.select(
                F.pmod(
                    F.xxhash64(*[F.col(k) for k in keys]),
                    F.lit(self.num_buckets),
                ).alias("__b")
            )
            .distinct()
            .collect()
        }

    @staticmethod
    def _key_membership_cond(keys: list[str], key_values: list[tuple]):
        """Boolean Column: the row's key tuple is one of ``key_values``.

        Single-key tables compile to one ``IN``-set predicate over the
        non-NULL values, OR'd with ``isNull`` when ``None`` is listed
        (ADVICE r06: ``col IN (NULL)`` never matches, so a targeted
        delete of a NULL-keyed row used to silently no-op); composite
        keys to an OR of per-tuple ``eqNullSafe`` conjunctions (the
        analyzer inserts numeric casts, so literal typing is safe
        either way).  Both paths therefore match NULL keys.
        O(|tuples|) expression size — ``key_values`` is a
        driver-provided targeted-delete list by contract, not a
        table."""
        from functools import reduce

        rows = [tuple(kv) if isinstance(kv, (tuple, list)) else (kv,)
                for kv in key_values]
        if not rows:
            return F.lit(False)
        if len(keys) == 1:
            vals = [r[0] for r in rows if r[0] is not None]
            cond = F.col(keys[0]).isin(vals) if vals else F.lit(False)
            if any(r[0] is None for r in rows):
                cond = cond | F.col(keys[0]).isNull()
            return cond
        terms = [
            reduce(
                lambda a, b: a & b,
                [F.col(k).eqNullSafe(F.lit(v)) for k, v in zip(keys, r)],
            )
            for r in rows
        ]
        return reduce(lambda a, b: a | b, terms)

    def create(
        self,
        df: DataFrame,
        keys: list[str],
        order_by: list[str] | None = None,
    ) -> int:
        """Initial commit (version 0). Fails if the table exists.

        Enforces the table's one-row-per-key invariant from the first
        commit with the SAME rule every later merge uses
        (``merge_dataframes`` with no existing side) — duplicate-key
        source rows collapse at create instead of corrupting the first
        upsert's merge and fanning out the change feed.  Pass
        ``order_by`` (forwarded to the merge, as in :meth:`upsert`) to
        pick WHICH duplicate survives deterministically; without it the
        default tiebreak is arbitrary-but-stable within a run
        (monotonically_increasing_id), i.e. the surviving payload can
        differ across runs when duplicate keys carry conflicting
        payloads."""
        if self.latest_version() is not None:
            raise ValueError(f"table at {self.root} already exists")
        schema, buckets = self._merge_write_bucket_files(
            None, df, keys, order_by=order_by
        )
        # The logical schema travels in the manifest so snapshot reads
        # of an empty table (zero data files — e.g. created from an
        # empty source) still resolve every column.
        self._commit(
            0,
            buckets,
            {
                "keys": keys,
                "operation": "create",
                "schema": schema.jsonValue(),
            },
        )
        return 0

    def upsert(
        self,
        incoming: DataFrame,
        order_by: list[str] | None = None,
        retries: int = 3,
        extra_meta: dict | None = None,
    ) -> int:
        """Merge incoming rows (incoming wins per key), rewriting only
        the buckets that contain incoming keys.  Optimistic retry on
        concurrent commits.

        ``extra_meta`` merges into the commit manifest — the hook an
        idempotent streaming writer uses to record its batch id IN the
        same atomic commit as the data (Delta's txn appId/version
        pattern; see streaming/lakehouse.py)."""
        from nasa_asteroid_data_lakehouse_spark.operators.merge import merge_dataframes

        for _ in range(retries):
            version = self.latest_version()
            if version is None:
                raise ValueError("table does not exist; call create() first")
            manifest = self._load_manifest(version)
            keys = manifest["keys"]
            # Adopt the table's committed bucket count: re-opening with
            # a different num_buckets default must not re-hash the
            # merge — an incoming key would land in a new bucket while
            # its old version stays in an untouched one, duplicating
            # the key across the snapshot.
            self.num_buckets = int(manifest.get("num_buckets", self.num_buckets))

            # Schema-merge contract (Delta mergeSchema on MERGE): an
            # incoming batch MISSING table columns reads them as NULL
            # (full-row replacement, operators/merge), and the commit's
            # logical schema is always the UNION of table and incoming
            # schemas.  Aligning here (not via unionByName alone)
            # matters when the touched buckets hold no files — merged
            # would otherwise BE the narrow incoming and the commit
            # would silently drop table columns from the manifest
            # schema.
            incoming = self._cast_keys_to_schema(
                self._align_to_schema(incoming, manifest), keys, manifest
            )

            inc_bucketed = incoming.withColumn(
                "__bucket",
                F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(self.num_buckets)),
            )
            touched = sorted(
                r["__bucket"] for r in inc_bucketed.select("__bucket").distinct().collect()
            )
            touched_set = {str(b) for b in touched}

            old_files = [
                f for b in touched_set for f in manifest["buckets"].get(b, [])
            ]
            if old_files:
                # deletion vectors of touched buckets apply BEFORE the
                # merge — a deferred-deleted row must not resurrect
                # through the rewrite — and are dropped from the new
                # manifest below (the rewrite materializes them).
                # mergeSchema: touched buckets can hold files from
                # commits with evolved schemas (upserts union-by-name)
                existing = self._apply_dvs(
                    self.spark.read.option("mergeSchema", "true").parquet(
                        *old_files
                    ),
                    manifest,
                    sorted(touched_set),
                )
                merged_schema, new_buckets = self._merge_write_bucket_files(
                    existing, incoming, keys, order_by=order_by
                )
            else:
                merged_schema = incoming.schema
                new_buckets = self._write_bucket_files(incoming, keys)

            combined = dict(manifest["buckets"])
            for b in touched_set:
                combined.pop(b, None)
            combined.update(new_buckets)
            carried_dvs = {
                b: fs
                for b, fs in manifest.get("dvs", {}).items()
                if b not in touched_set
            }

            try:
                self._commit(
                    version + 1,
                    combined,
                    {
                        "keys": keys,
                        "operation": "upsert",
                        "touched_buckets": sorted(touched_set),
                        "schema": merged_schema.jsonValue(),
                        **(extra_meta or {}),
                    },
                    dvs=carried_dvs,
                )
                return version + 1
            except CommitConflict:
                continue  # re-read latest manifest and retry
        raise CommitConflict(f"gave up after {retries} conflicting commits")

    def overwrite(self, df: DataFrame, order_by: list[str] | None = None,
                  retries: int = 3) -> int:
        """Commit a FULL new snapshot (replace every row), keeping the
        table's keys — the API path for schema evolution beyond what
        upsert's union-by-name can express (dropping a column, or a
        wholesale recompute).  The one-row-per-key invariant is
        enforced with the same merge rule create() uses; ``changes()``
        across an overwrite classifies per row (insert / update /
        delete / schema_drop / schema_add), so the CDF stays exact.

        Scale note: an overwrite rewrites the whole table by
        definition — use :meth:`upsert`/:meth:`delete_where` for
        incremental change; this exists for the schema-evolution and
        recompute commits where full rewrite IS the operation."""
        for _ in range(retries):
            version = self.latest_version()
            if version is None:
                raise ValueError("table does not exist; call create() first")
            manifest = self._load_manifest(version)
            keys = manifest["keys"]
            self.num_buckets = int(manifest.get("num_buckets", self.num_buckets))
            merged_schema, buckets = self._merge_write_bucket_files(
                None, df, keys, order_by=order_by
            )
            try:
                self._commit(
                    version + 1,
                    buckets,
                    {
                        "keys": keys,
                        "operation": "overwrite",
                        "schema": merged_schema.jsonValue(),
                    },
                )
                return version + 1
            except CommitConflict:
                continue
        raise CommitConflict(f"gave up after {retries} conflicting commits")

    def delete_where(
        self, condition, retries: int = 3, key_values=None, deferred: bool = False
    ) -> int:
        """Delete rows matching ``condition`` (a Column or SQL string),
        rewriting ONLY the buckets that contain matching rows — the
        Delta-style ``DELETE WHERE`` that completes the write surface
        (create / upsert / delete / compact / vacuum).

        SQL semantics: a row is deleted iff the predicate is TRUE;
        NULL-predicate rows are kept.  A bucket whose rows all match
        simply disappears from the new manifest (zero files), which is
        exactly how :meth:`changes` detects its rows as deletes.  If
        nothing matches, no version is committed and the current
        version is returned (a no-op delete should not spam history).
        Returns the committed (or current) version.

        Cost (ADVICE r04): discovering WHICH buckets contain matches
        requires one O(table) scan per attempt (and per optimistic
        retry) for an arbitrary predicate — only the rewrite is
        bucket-pruned.  For the common key-targeted delete, pass
        ``key_values`` (an iterable of key tuples, one value per key
        column in manifest order): candidate buckets are then computed
        by hashing those literals — the same ``pmod(xxhash64(keys), n)``
        expression the writer assigns, evaluated on an O(|tuples|)
        driver-built frame — and both the discovery scan and the
        rewrite read only those buckets' files.

        ``key_values`` is SEMANTIC, not a hint (ADVICE r05): when
        given, a row deletes iff ``condition`` is TRUE **and** its key
        tuple is listed — the predicate is conjoined with
        key-membership, so bucket pruning can never change which rows
        delete.  A condition that matches rows outside ``key_values``
        leaves them untouched BY CONTRACT (previously those rows were
        silently skipped only when they hashed outside the scanned
        buckets — a missed-delete corruption).  Pass
        ``key_values=None`` for a pure-predicate full-scan delete.

        ``deferred=True`` is the MERGE-ON-READ form (Delta's deletion
        vectors, VERDICT r08 design note): instead of rewriting every
        owning bucket's surviving rows — O(bucket bytes) write
        amplification per delete at 100 TB — the commit records only
        the deleted KEYS, hash-bucketed exactly like the data, under
        the manifest's ``dvs`` map; the rewrite cost is O(deleted
        keys).  Every logical read (:meth:`read`, :meth:`changes`,
        bucket-pruned reads) subtracts the vectors via a NULL-safe key
        anti-join, so query semantics are IDENTICAL to the immediate
        form — including snapshot isolation: older versions don't
        carry the vector and still see the rows.  The deleted bytes
        remain physically present until a rewrite materializes the
        vectors: any later :meth:`upsert`/:meth:`delete_where` touching
        the bucket, or :meth:`compact` / :meth:`optimize` /
        :meth:`rebucket` / :meth:`overwrite` (compact treats DV debt as
        a compaction trigger) — followed by :meth:`vacuum` for physical
        erasure, the same contract as every other rewrite.

        The choice of KEY-based vectors over Delta's per-file position
        bitmaps is deliberate for this engine: files are immutable and
        bucketed by key hash, so deleted keys bucket identically,
        making the subtraction a bucket-local broadcast anti-join with
        no file-position bookkeeping — and the vector survives
        compaction-era file renames by construction."""
        base_cond = F.expr(condition) if isinstance(condition, str) else condition
        for _ in range(retries):
            version = self.latest_version()
            if version is None:
                raise ValueError("table does not exist; call create() first")
            manifest = self._load_manifest(version)
            keys = manifest["keys"]
            self.num_buckets = int(manifest.get("num_buckets", self.num_buckets))

            files = [f for fs in manifest["buckets"].values() for f in fs]
            if not files:
                return version
            # the partition-dir __bucket column is lost when reading
            # concrete file paths; recompute it from the key hash (the
            # exact expression _write_bucket_files assigns)
            bucket_of = F.pmod(
                F.xxhash64(*[F.col(k) for k in keys]), F.lit(self.num_buckets)
            )
            cond = base_cond
            if key_values is not None:
                kv = list(key_values)
                # Key-pruned path: hash the caller's key literals with
                # the writer's own expression (typed via the snapshot
                # schema, since xxhash64(int) != xxhash64(bigint)).
                candidates = self._buckets_of_key_values(manifest, keys, kv)
                files = [
                    f
                    for b in sorted(candidates)
                    for f in manifest["buckets"].get(str(b), [])
                ]
                if not files:
                    return version
                # Conjoin key-membership so pruning is semantics-
                # preserving: rows whose keys are unlisted never
                # delete, whether or not their bucket was scanned.
                cond = F.coalesce(base_cond, F.lit(False)) & (
                    self._key_membership_cond(keys, kv)
                )
            # Apply existing deletion vectors to the discovery scan:
            # already-deleted rows must neither re-trigger a bucket
            # rewrite nor re-enter a vector (idempotent DV debt).  The
            # scanned bucket set is everything the candidate files span.
            scanned_buckets = (
                sorted(str(b) for b in candidates)
                if key_values is not None
                else list(manifest["buckets"])
            )
            snap = self._apply_dvs(
                self.spark.read.option("mergeSchema", "true").parquet(*files),
                manifest,
                scanned_buckets,
            )
            matching = snap.where(cond)

            if deferred:
                # merge-on-read: record the deleted keys, touch no data
                # file.  Vectors bucket by the same key hash as the
                # data, so new files merge into the per-bucket lists.
                # ONE job (guide §1.2): the DV write's dynamic
                # partitionBy assigns the same pmod(xxhash64(keys))
                # bucket the discovery distinct-collect used to compute,
                # so the written bucket dirs ARE the touched set — the
                # separate discovery job is gone, and zero written
                # files ⇔ zero matching rows (the no-op early exit).
                dv_new = self._write_bucket_files(
                    matching.select(*keys).distinct(), keys
                )
                if not dv_new:
                    return version
                merged_dvs = {
                    b: list(fs) for b, fs in manifest.get("dvs", {}).items()
                }
                for b, fs in dv_new.items():
                    merged_dvs[b] = merged_dvs.get(b, []) + fs
                try:
                    self._commit(
                        version + 1,
                        dict(manifest["buckets"]),
                        {
                            "keys": keys,
                            "operation": "delete_deferred",
                            "touched_buckets": sorted(dv_new),
                            "schema": manifest.get("schema"),
                        },
                        dvs=merged_dvs,
                    )
                    return version + 1
                except CommitConflict:
                    continue

            touched = sorted(
                r["__b"]
                for r in matching.select(bucket_of.alias("__b"))
                .distinct()
                .collect()
            )
            if not touched:
                return version
            touched_set = {str(b) for b in touched}

            touched_files = [
                f for b in touched_set for f in manifest["buckets"].get(b, [])
            ]
            kept = self._apply_dvs(
                self.spark.read.option("mergeSchema", "true")
                .parquet(*touched_files),
                manifest,
                sorted(touched_set),
            ).where(~F.coalesce(cond, F.lit(False)))
            new_buckets = self._write_bucket_files(kept, keys)

            combined = dict(manifest["buckets"])
            for b in touched_set:
                combined.pop(b, None)
            combined.update(new_buckets)
            # the rewrite materialized the touched buckets' vectors
            carried_dvs = {
                b: fs
                for b, fs in manifest.get("dvs", {}).items()
                if b not in touched_set
            }

            try:
                self._commit(
                    version + 1,
                    combined,
                    {
                        "keys": keys,
                        "operation": "delete",
                        "touched_buckets": sorted(touched_set),
                        "schema": manifest.get("schema"),
                    },
                    dvs=carried_dvs,
                )
                return version + 1
            except CommitConflict:
                continue
        raise CommitConflict(f"gave up after {retries} conflicting commits")

    def delete_keys(
        self,
        keys_df: DataFrame,
        retries: int = 3,
        extra_meta: dict | None = None,
    ) -> int:
        """Deferred (deletion-vector) delete of EXACTLY the keys in
        ``keys_df`` — the DataFrame-driven twin of
        ``delete_where(key_values=..., deferred=True)`` for delete sets
        too large to ship as driver literals (a CDC feed's delete half,
        a GDPR id list).  No discovery scan at all: the key set writes
        straight into per-bucket vectors (hash-bucketed like the data)
        and the commit is O(deleted keys) regardless of table size.
        Keys absent from the table are harmless: their vector entries
        subtract nothing and purge with the rest at the next rewrite.

        ``extra_meta`` merges into the commit manifest (the idempotent
        streaming marker hook, as on :meth:`upsert`) — a CDC apply can
        make its delete half carry the batch marker."""
        for _ in range(retries):
            version = self.latest_version()
            if version is None:
                raise ValueError("table does not exist; call create() first")
            manifest = self._load_manifest(version)
            keys = manifest["keys"]
            self.num_buckets = int(manifest.get("num_buckets", self.num_buckets))
            # The vectors are hash-bucketed like the data, so the key
            # types must be the table's (see _cast_keys_to_schema).
            key_frame = self._cast_keys_to_schema(keys_df.select(*keys), keys, manifest)
            dv_new = self._write_bucket_files(key_frame.distinct(), keys)
            if not dv_new:
                return version  # empty key set: no-op, no commit spam
            merged_dvs = {
                b: list(fs) for b, fs in manifest.get("dvs", {}).items()
            }
            for b, fs in dv_new.items():
                merged_dvs[b] = merged_dvs.get(b, []) + fs
            try:
                self._commit(
                    version + 1,
                    dict(manifest["buckets"]),
                    {
                        "keys": keys,
                        "operation": "delete_deferred",
                        "touched_buckets": sorted(dv_new),
                        "schema": manifest.get("schema"),
                        **(extra_meta or {}),
                    },
                    dvs=merged_dvs,
                )
                return version + 1
            except CommitConflict:
                continue
        raise CommitConflict(f"gave up after {retries} conflicting commits")

    # --- read paths ----------------------------------------------------------

    def version_as_of(self, timestamp: float) -> int:
        """Latest surviving version whose ``committed_at`` is at or
        before ``timestamp`` — Delta's TIMESTAMP AS OF resolution rule
        (the snapshot a reader at that wall-clock instant would have
        seen).  Commit times are wall-clock and monotone per table in
        practice (single manifest log, each commit strictly after its
        parent's publish); the walk is newest-first, so the first
        qualifying manifest IS the latest one.

        Raises ``ValueError`` when ``timestamp`` predates the earliest
        SURVIVING commit (Delta raises the same way: vacuum truncates
        reconstructable history, so a pre-vacuum timestamp is
        unanswerable, not silently clamped)."""
        latest = self.latest_version()
        if latest is None:
            raise ValueError(f"no table at {self.root}")
        ts = float(timestamp)
        v = latest
        while v >= 0:
            try:
                m = self._load_manifest(v)
            except FileNotFoundError:
                break  # vacuum truncated the log below here
            if float(m.get("committed_at", float("inf"))) <= ts:
                return v
            v -= 1
        raise ValueError(
            f"timestamp {ts} predates the earliest surviving commit of "
            f"table at {self.root} (history may have been vacuumed)"
        )

    def read(
        self,
        version: int | None = None,
        timestamp: float | None = None,
    ) -> DataFrame:
        """Snapshot read: resolve a manifest, read exactly its files.

        Time travel: pass ``version`` (VERSION AS OF) or ``timestamp``
        (TIMESTAMP AS OF, resolved via :meth:`version_as_of`) — not
        both."""
        if version is not None and timestamp is not None:
            raise ValueError("pass version or timestamp, not both")
        if timestamp is not None:
            v = self.version_as_of(timestamp)
        else:
            v = self.latest_version() if version is None else version
        if v is None:
            raise ValueError(f"no table at {self.root}")
        manifest = self._load_manifest(v)
        return self._read_buckets(manifest, list(manifest["buckets"]))

    def _apply_dvs(
        self, df: DataFrame, manifest: dict, bucket_ids: list[str]
    ) -> DataFrame:
        """Subtract the manifest's deletion vectors for the given
        buckets: one NULL-safe key anti-join against the (small)
        deleted-key files.  A no-op (the same plan object) when none of
        the buckets carries a vector, so clean tables pay nothing.

        Scale: the anti-join probes only the SCANNED buckets' vectors,
        and vectors are bounded by deletes-since-last-purge (compact /
        optimize / any bucket rewrite materializes and drops them), so
        the build side stays broadcast-sized by maintenance policy —
        the merge-on-read bargain Delta's deletion vectors make."""
        from functools import reduce

        dv_files = [
            f for b in bucket_ids for f in manifest.get("dvs", {}).get(b, [])
        ]
        if not dv_files:
            return df
        keys = manifest["keys"]
        dv = (
            self.spark.read.parquet(*dv_files)
            .select(*[F.col(k).alias(f"__dv_{k}") for k in keys])
            .distinct()
        )
        # eqNullSafe per key: delete_where can target NULL-keyed rows
        # (ADVICE r06) and the deferred form must subtract them too —
        # a plain on=keys equi-anti-join would leak NULL-keyed deletes.
        cond = reduce(
            lambda a, b: a & b,
            [df[k].eqNullSafe(dv[f"__dv_{k}"]) for k in keys],
        )
        return df.join(dv, cond, "left_anti")

    def _read_buckets(self, manifest: dict, bucket_ids: list[str]) -> DataFrame:
        """Read a snapshot restricted to the given bucket ids (the
        whole snapshot when all ids are passed), with the snapshot's
        deletion vectors applied — logical reads never see
        deferred-deleted rows.  Zero files resolves to an empty frame
        with the manifest's logical schema."""
        files = [f for b in bucket_ids for f in manifest["buckets"].get(b, [])]
        if not files:
            schema_json = manifest.get("schema")
            if schema_json is not None:
                from pyspark.sql.types import StructType

                return self.spark.createDataFrame(
                    [], schema=StructType.fromJson(schema_json)
                )
            # pre-schema manifests: no way to recover columns
            return self.spark.createDataFrame([], schema="__empty string").limit(0)
        # mergeSchema: snapshots can span commits with evolved schemas
        # (upserts union-by-name, so later files may carry added columns)
        df = (
            self.spark.read.option("mergeSchema", "true").parquet(*files).drop("__bucket")
        )
        return self._apply_dvs(df, manifest, bucket_ids)

    def clone(self, target_root: str, version: int | None = None) -> "VersionedTable":
        """ZERO-COPY shallow clone at a snapshot (Delta's SHALLOW
        CLONE): the clone's v0 manifest references the SOURCE's data
        files — no data moves, the commit is one manifest write.
        Subsequent writes to the clone land in its OWN data directory
        and never touch the source; source and clone diverge
        independently from the cloned snapshot.

        Caveat (same as Delta): ``vacuum`` on the SOURCE can delete
        files a shallow clone still references — vacuum the source
        only after dropping its clones, or re-materialize the clone
        first (read + create).  At 100 TB this is the cheap way to
        hand a team a writable snapshot of a petabyte table."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise ValueError(f"no table at {self.root}")
        m = self._load_manifest(v)
        t = VersionedTable(
            self.spark,
            target_root,
            num_buckets=int(m.get("num_buckets", self.num_buckets)),
        )
        if t.latest_version() is not None:
            raise ValueError(f"table at {target_root} already exists")
        t._commit(
            0,
            dict(m["buckets"]),
            {
                "keys": m["keys"],
                "operation": "clone",
                "clone_source": {"root": self.root, "version": v},
                "schema": m.get("schema"),
            },
            dvs=m.get("dvs"),
        )
        return t

    def history(self) -> list[dict]:
        """Commit log, newest first."""
        out = []
        v = self.latest_version()
        while v is not None and v >= 0:
            m = self._load_manifest(v)
            out.append(
                {
                    "version": m["version"],
                    "operation": m.get("operation"),
                    "committed_at": m.get("committed_at"),
                    "n_buckets": len(m.get("buckets", {})),
                    "n_dv_buckets": len(m.get("dvs", {})),
                    "touched_buckets": m.get("touched_buckets"),
                }
            )
            v -= 1
        return out

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Delete data files unreferenced by the ``keep_last`` newest
        manifests (and drop older manifests), then every txn dir that no
        longer holds a data file.  Txn dirs of writes still in flight (a
        ``_temporary`` or ``.spark-staging-*`` subdir) are left alone.
        Returns removed files."""
        latest = self.latest_version()
        if latest is None:
            return []
        keep_versions = [v for v in range(latest, max(-1, latest - keep_last), -1)]
        referenced: set[str] = set()
        for v in keep_versions:
            m = self._load_manifest(v)
            for fs in m["buckets"].values():
                referenced.update(fs)
            for fs in m.get("dvs", {}).values():
                referenced.update(fs)  # live deletion vectors stay
        removed = []
        for txn in os.listdir(self._data_dir):
            txn_dir = os.path.join(self._data_dir, txn)
            if any(e == "_temporary" or e.startswith(".spark-staging")
                   for e in os.listdir(txn_dir)):
                continue  # a write still in flight
            kept = False
            for dirpath, _dirs, files in os.walk(txn_dir):
                for f in files:
                    path = os.path.join(dirpath, f)
                    if not path.endswith(".parquet"):
                        continue
                    if path in referenced:
                        kept = True
                    else:
                        os.remove(path)
                        removed.append(path)
            if not kept:
                # only the writer's _SUCCESS / .crc residue is left
                shutil.rmtree(txn_dir)
        for v in range(0, latest - keep_last + 1):
            p = self._manifest_path(v)
            if os.path.exists(p):
                os.remove(p)
        return removed


    # --- change data feed ----------------------------------------------------

    def changes(
        self,
        from_version: int | None = None,
        to_version: int | None = None,
        include_preimages: bool = False,
        from_timestamp: float | None = None,
        to_timestamp: float | None = None,
    ) -> DataFrame:
        """Row-level diff between two snapshots keyed by the table keys.

        Endpoints are versions, or timestamps resolved through
        :meth:`version_as_of` (Delta's ``table_changes`` accepts both
        forms) — pass exactly one of ``from_version``/``from_timestamp``
        and at most one of ``to_version``/``to_timestamp``.

        ``include_preimages=True`` additionally emits an
        ``update_preimage`` row (the OLD image) for every update-ish
        change — the Delta CDF surface an incremental-view maintainer
        needs to SUBTRACT a row's old contribution before adding the
        new one; without preimages only full recompute or a join back
        to the old snapshot can maintain an aggregate.

        Returns the newer image of each changed row (old image for
        deletes) plus ``_change_type`` in {insert, update_postimage,
        delete, schema_drop, schema_add} — the Delta-style CDF surface,
        computed from snapshots (no row-change log is kept).
        ``schema_drop`` marks rows whose only difference is a non-NULL
        value in a column ``to_version`` no longer carries;
        ``schema_add`` (the symmetric type, ADVICE r06) marks rows
        whose only difference is a non-NULL value in a column
        ``to_version`` ADDED — so a pure column-add commit is
        distinguishable from a mass data update, exactly as a pure
        column-drop is.  Any difference in a column BOTH versions carry
        classifies as ``update_postimage`` regardless of concurrent
        schema evolution.

        APPLY ALGEBRA (the downstream-replica contract): schema_drop
        and schema_add rows ARE updates to a consumer — replay them
        like update_postimage, replacing the replica's row with the
        feed image.  A schema_drop image carries NULL in the dropped
        columns (nulling the replica's stale values; rows whose
        dropped-column values were already NULL produce no feed row and
        need no repair), and a schema_add image carries the added
        columns' values.  Filtering the feed to only
        insert/update_postimage/delete keeps stale non-NULL values in
        dropped columns and misses added-column backfills — the replica
        diverges.  :meth:`apply_changes` implements the full algebra.

        Cost is O(changed buckets), not O(table): data files are
        immutable (every write lands in a fresh txn directory, nothing
        is rewritten in place), so a bucket whose manifest file list is
        IDENTICAL in both versions is byte-identical and cannot contain
        a change.  Only buckets whose file lists differ are read, and
        they are diffed in ONE full-outer key join (insert / update /
        delete classified in a single pass) instead of three separate
        joins.  An upsert that touched 5 of 1000 buckets diffs 5.
        """
        if (from_version is None) == (from_timestamp is None):
            raise ValueError(
                "pass exactly one of from_version / from_timestamp"
            )
        if to_version is not None and to_timestamp is not None:
            raise ValueError("pass at most one of to_version / to_timestamp")
        if from_timestamp is not None:
            from_version = self.version_as_of(from_timestamp)
        if to_timestamp is not None:
            to_v = self.version_as_of(to_timestamp)
        else:
            to_v = self.latest_version() if to_version is None else to_version
        from_m = self._load_manifest(from_version)
        to_m = self._load_manifest(to_v)
        keys = to_m["keys"]
        # a bucket changes when its FILE list differs OR its deletion-
        # vector list differs: a deferred delete touches no data file,
        # so without the dv comparison its rows would be invisible to
        # the CDF (both are append-only immutable lists, so list
        # equality remains the exact no-change test)
        from_dvs = from_m.get("dvs", {})
        to_dvs = to_m.get("dvs", {})
        changed = sorted(
            b
            for b in set(from_m["buckets"])
            | set(to_m["buckets"])
            | set(from_dvs)
            | set(to_dvs)
            if from_m["buckets"].get(b) != to_m["buckets"].get(b)
            or from_dvs.get(b) != to_dvs.get(b)
        )
        old = self._read_buckets(from_m, changed)
        new = self._read_buckets(to_m, changed)

        # Diff the UNION of both snapshots' columns (ADVICE r04): a
        # column present only in from_version (dropped by to_version)
        # still participates — the row is flagged and delete images
        # keep the old-only values.  The side missing a column reads
        # it as typed NULL, symmetrically (as parquet mergeSchema
        # would).  Rows whose ONLY difference sits in dropped columns
        # classify as ``schema_drop``, and (symmetrically, ADVICE r06)
        # rows whose only difference sits in ADDED columns as
        # ``schema_add`` — pure schema-evolution commits would
        # otherwise be indistinguishable from mass data updates.
        new_non_keys = [c for c in new.columns if c not in keys]
        common_non_keys = [c for c in new_non_keys if c in old.columns]
        added_cols = [c for c in new_non_keys if c not in old.columns]
        dropped_cols = [
            c for c in old.columns if c not in keys and c not in new.columns
        ]
        non_keys = new_non_keys + dropped_cols

        def _side_col(df: DataFrame, c: str, other: DataFrame) -> F.Column:
            if c in df.columns:
                return F.col(c)
            return F.lit(None).cast(other.schema[c].dataType)

        old_side = old.select(
            *keys, *[_side_col(old, c, new).alias(f"__old_{c}") for c in non_keys]
        ).withColumn("__in_old", F.lit(1))
        new_side = new.select(
            *keys, *[_side_col(new, c, old).alias(c) for c in non_keys]
        ).withColumn("__in_new", F.lit(1))

        # USING-join semantics coalesce the key columns across sides.
        joined = new_side.join(old_side, on=keys, how="full_outer")

        def _any_diff(cols: list[str]) -> F.Column:
            d = F.lit(False)
            for c in cols:
                d = d | ~F.col(c).eqNullSafe(F.col(f"__old_{c}"))
            return d

        diff_common = _any_diff(common_non_keys)
        diff_dropped = _any_diff(dropped_cols)
        diff_added = _any_diff(added_cols)
        is_delete = F.col("__in_new").isNull()
        change_type = (
            F.when(F.col("__in_old").isNull(), F.lit("insert"))
            .when(is_delete, F.lit("delete"))
            .when(diff_common, F.lit("update_postimage"))
            .when(diff_dropped, F.lit("schema_drop"))
            .when(diff_added, F.lit("schema_add"))
        )
        image = [
            F.when(is_delete, F.col(f"__old_{c}")).otherwise(F.col(c)).alias(c)
            for c in non_keys
        ]
        if not include_preimages:
            return (
                joined.select(*keys, *image, change_type.alias("_change_type"))
                .where(F.col("_change_type").isNotNull())
            )
        # Preimage emission (Delta's update_preimage): every update-ish
        # row (update_postimage / schema_drop / schema_add) also yields
        # its OLD image, typed ``update_preimage`` — the row an
        # incremental-view maintainer subtracts before adding the post
        # contribution.  Inserts have no preimage; deletes already
        # carry their old image.  Single pass: both candidate rows are
        # built as structs and exploded, so the bucket diff join is
        # evaluated once.
        is_update = (
            F.col("__in_old").isNotNull()
            & F.col("__in_new").isNotNull()
            & (diff_common | diff_dropped | diff_added)
        )
        post_struct = F.struct(
            *[img.alias(c) for img, c in zip(image, non_keys)],
            change_type.alias("_change_type"),
        )
        pre_struct = F.struct(
            *[F.col(f"__old_{c}").alias(c) for c in non_keys],
            F.when(is_update, F.lit("update_preimage")).alias("_change_type"),
        )
        return (
            joined.select(
                *keys, F.explode(F.array(post_struct, pre_struct)).alias("__r")
            )
            .select(
                *keys,
                *[F.col(f"__r.{c}").alias(c) for c in non_keys],
                F.col("__r._change_type").alias("_change_type"),
            )
            .where(F.col("_change_type").isNotNull())
        )

    @staticmethod
    def apply_changes(
        snapshot: DataFrame, feed: DataFrame, keys: list[str]
    ) -> DataFrame:
        """Replay a :meth:`changes` feed onto an older ``snapshot`` —
        the downstream-replica apply algebra, with EVERY change type
        handled (ADVICE r06: filtering to insert/update_postimage/
        delete keeps stale non-NULL values in dropped columns and
        misses added-column backfills).

        survivors = snapshot rows whose keys the feed never names
        (anti join; insert keys are absent from the snapshot, so one
        all-keys ``gone`` set is both correct and cheapest — preimage
        keys in the set are harmless, their postimage re-adds them),
        unioned with the image of every NEW-image change — insert,
        update_postimage, and the schema-evolution types, whose images
        already encode the repair (NULL for dropped columns, values
        for added ones).  ``delete`` AND ``update_preimage`` rows are
        excluded: a feed produced with ``include_preimages=True``
        carries the OLD image of every update too, and unioning it in
        would yield two rows per updated key.

        Output columns are the feed's image schema: keys + the union
        of both versions' non-key columns.  Snapshot columns the feed
        lacks are ignored; feed columns the snapshot lacks NULL-fill
        for survivors (``allowMissingColumns``) — matching what the
        missing-side snapshot read would produce.  Dropped columns
        therefore surface as all-NULL rather than disappearing; a
        consumer mirroring the schema itself drops them afterwards.

        Scale: one key-keyed anti join + a union — bucket-local on the
        table's own key hash at 100 TB (the feed is O(changed rows))."""
        gone = feed.select(*keys)
        images = feed.where(
            ~F.col("_change_type").isin("delete", "update_preimage")
        ).drop("_change_type")
        survivors = snapshot.join(gone, on=keys, how="left_anti")
        return survivors.unionByName(images, allowMissingColumns=True).select(
            *images.columns
        )

    # --- maintenance ---------------------------------------------------------

    def compact(self, target_files_per_bucket: int = 1) -> int:
        """Rewrite buckets whose file count exceeds the target into
        consolidated files and commit a new version (small-files
        maintenance; data content unchanged).

        Deletion-vector debt is a compaction trigger too: a bucket
        carrying a vector is rewritten regardless of file count — the
        rewrite materializes the vector (surviving rows only) and
        drops it from the new manifest, which is the PURGE half of the
        merge-on-read bargain (Delta's OPTIMIZE does the same)."""
        version = self.latest_version()
        if version is None:
            raise ValueError("table does not exist")
        manifest = self._load_manifest(version)
        keys = manifest["keys"]
        self.num_buckets = int(manifest.get("num_buckets", self.num_buckets))
        dvs = manifest.get("dvs", {})
        to_compact = {
            b: fs
            for b, fs in manifest["buckets"].items()
            if len(fs) > target_files_per_bucket or dvs.get(b)
        }
        # A vector filed under a bucket with NO data files (delete_keys
        # for keys absent from the table) references rows that cannot
        # exist; it would never join a rewrite and be carried forward
        # in every manifest indefinitely — drop it here so its key
        # files become vacuum-eligible (ADVICE r09 #3).
        orphan_dvs = sorted(b for b in dvs if b not in manifest["buckets"])
        if not to_compact and not orphan_dvs:
            return version
        combined = dict(manifest["buckets"])
        if to_compact:
            files = [f for fs in to_compact.values() for f in fs]
            consolidated = self._apply_dvs(
                self.spark.read.option("mergeSchema", "true")
                .parquet(*files)
                .drop("__bucket"),
                manifest,
                sorted(to_compact),
            )
            new_buckets = self._write_bucket_files(consolidated, keys)
            for b in to_compact:
                combined.pop(b, None)
            combined.update(new_buckets)
        carried_dvs = {
            b: fs
            for b, fs in dvs.items()
            if b not in to_compact and b in manifest["buckets"]
        }
        self._commit(
            version + 1,
            combined,
            {
                "keys": keys,
                "operation": "compact",
                "data_change": False,
                "compacted_buckets": sorted(to_compact),
                "schema": manifest.get("schema"),
            },
            dvs=carried_dvs,
        )
        return version + 1

    def rebucket(self, new_num_buckets: int) -> int:
        """Re-partition the table into a NEW bucket count — bucket-spec
        evolution (VERDICT r07 ask #6c: the count was fixed at
        ``create()`` and OPTIMIZE rewrote within buckets only, so a
        table created small stayed merge-bottlenecked forever: once a
        bucket outgrows executor memory every upsert pays for it).

        One full rewrite commit: every row re-hashed into the new
        bucket space, the manifest records the new count, and every
        later writer adopts it (upsert/delete read ``num_buckets`` from
        the committed manifest — the re-open safety added in round 5
        exists for exactly this).  Data content is unchanged (a
        maintenance commit like compact): ``changes()`` across a
        rebucket classifies ZERO rows — the bucket-id file lists all
        differ so it degrades to one full-table key diff, correct just
        not incremental.

        Scale: deliberately the one full-table maintenance op —
        schedule it like OPTIMIZE, and prefer DOUBLING: with
        ``pmod(hash, 2N)`` every old bucket splits into exactly two new
        ones (b and b+N), so the shuffle is bucket-local even though
        the rewrite is total."""
        version = self.latest_version()
        if version is None:
            raise ValueError("table does not exist")
        manifest = self._load_manifest(version)
        keys = manifest["keys"]
        old_count = int(manifest.get("num_buckets", self.num_buckets))
        if int(new_num_buckets) == old_count:
            self.num_buckets = old_count
            return version
        # num_buckets drives _write_bucket_files, so it must be set
        # before the write — but a failed write or losing the commit
        # race must not leave the in-memory handle claiming a bucket
        # count the committed manifest never recorded (ADVICE r08):
        # restore the old count on any failure.
        self.num_buckets = int(new_num_buckets)
        try:
            files = [f for fs in manifest["buckets"].values() for f in fs]
            if files:
                # full rewrite: deletion vectors materialize and drop
                df = self._apply_dvs(
                    self.spark.read.option("mergeSchema", "true")
                    .parquet(*files)
                    .drop("__bucket"),
                    manifest,
                    list(manifest["buckets"]),
                )
                new_buckets = self._write_bucket_files(df, keys)
            else:
                new_buckets = {}
            self._commit(
                version + 1,
                new_buckets,
                {
                    "keys": keys,
                    "operation": "rebucket",
                    "data_change": False,
                    "previous_num_buckets": old_count,
                    "schema": manifest.get("schema"),
                },
            )
        except BaseException:
            self.num_buckets = old_count
            raise
        return version + 1

    def restore(
        self,
        version: int | None = None,
        timestamp: float | None = None,
        retries: int = 3,
    ) -> int:
        """Roll the table back to snapshot ``version`` AS A NEW COMMIT
        (Delta ``RESTORE TABLE ... TO VERSION AS OF``; pass
        ``timestamp`` instead for the TIMESTAMP AS OF form, resolved
        through :meth:`version_as_of`): history is
        never rewritten — the rollback is itself a commit, so the
        pre-restore head stays readable and :meth:`changes`
        (pre_restore_head, restored_version) classifies the undo delta
        row by row with the ordinary CDF algebra (rows the rollback
        un-deletes arrive as inserts, reverted updates as
        update_postimage, un-inserted rows as deletes) — the feed a
        downstream replica applies to follow the rollback without a
        full rescan.

        ZERO-COPY: data files are immutable and never rewritten in
        place, so the restore manifest simply references the target
        snapshot's files — an O(1) manifest-only commit like
        :meth:`clone`, regardless of table size.  The restored
        snapshot's bucket count is adopted (restoring across a
        :meth:`rebucket` reverts the bucket spec too, since the
        referenced files ARE the old bucket layout).

        What is NOT rolled back: the ``stream_txn_watermarks`` map
        carries forward from the pre-restore head like every commit
        (Delta preserves txn identifiers across RESTORE for the same
        reason) — an exactly-once streaming writer must still
        recognize its already-applied batch ids after a rollback, or
        the replay would double-apply them onto the restored state.

        Fails with ``FileNotFoundError`` when the target manifest or
        any data file it references was vacuumed (Delta's RESTORE has
        the same hazard); the failure happens BEFORE the commit, so a
        failed restore leaves no trace."""
        if (version is None) == (timestamp is None):
            raise ValueError("pass exactly one of version / timestamp")
        if timestamp is not None:
            version = self.version_as_of(timestamp)
        if self.latest_version() is None:
            raise ValueError("table does not exist")
        target = self._load_manifest(version)  # FileNotFoundError if vacuumed
        missing = [
            f
            for fs in list(target["buckets"].values())
            + list(target.get("dvs", {}).values())
            for f in fs
            if not os.path.exists(f)
        ]
        if missing:
            raise FileNotFoundError(
                f"restore to version {version} impossible: "
                f"{len(missing)} referenced files were vacuumed "
                f"(first: {missing[0]})"
            )
        old_count = self.num_buckets
        self.num_buckets = int(target.get("num_buckets", self.num_buckets))
        try:
            # The restore target is fixed, so losing a race to a
            # concurrent commit is always safe to retry against the new
            # head — same bounded optimistic loop as every other write
            # path (ADVICE r09 #4).
            for _ in range(retries):
                head = self.latest_version()
                try:
                    self._commit(
                        head + 1,
                        dict(target["buckets"]),
                        {
                            "keys": target["keys"],
                            "operation": "restore",
                            "restored_version": int(version),
                            "schema": target.get("schema"),
                        },
                        dvs=target.get("dvs"),
                    )
                    return head + 1
                except CommitConflict:
                    continue  # re-read the head and retry
            raise CommitConflict(
                f"gave up after {retries} conflicting commits"
            )
        except BaseException:
            self.num_buckets = old_count
            raise

    def optimize(
        self,
        zorder_by: list[str],
        files_per_bucket: int = 4,
        zbits: int = 8,
    ) -> int:
        """``OPTIMIZE ... ZORDER BY`` for a key-bucketed table: rewrite
        every bucket with rows Z-ORDERED on ``zorder_by`` and split
        into ``files_per_bucket`` contiguous z-range files, then commit
        (data content unchanged — a maintenance commit like compact).

        Why both layouts compose: the key-hash bucket is the UPSERT
        locality unit (a merge rewrites only touched buckets) but
        scatters every scan key uniformly, so per-bucket files have
        full-range envelopes and a range predicate prunes nothing.
        Slicing each bucket's rows by z-rank gives every file a small
        hyper-rectangle of the zorder_by space (parquet footers and
        ``lake/stats.collect_file_stats`` then both carry tight
        min/max), so selective scans skip ~(1 - 1/files_per_bucket)
        of each bucket while upserts keep their bucket pruning.

        Scale: one z-value projection (equi-depth bucket ranks via
        approxQuantile — sketch-sized driver result), one bucket-local
        window pair (row_number + count partitioned by __bucket), one
        exchange on (__bucket, __slot).  No global sort.
        """
        from nasa_asteroid_data_lakehouse_spark.lake.zorder import (
            morton_interleave,
            zorder_buckets,
        )
        from pyspark.sql import Window

        version = self.latest_version()
        if version is None:
            raise ValueError("table does not exist")
        manifest = self._load_manifest(version)
        keys = manifest["keys"]
        self.num_buckets = int(manifest.get("num_buckets", self.num_buckets))
        files = [f for fs in manifest["buckets"].values() for f in fs]
        if not files:
            return version
        # full rewrite: deletion vectors materialize and drop
        df = self._apply_dvs(
            self.spark.read.option("mergeSchema", "true")
            .parquet(*files)
            .drop("__bucket"),
            manifest,
            list(manifest["buckets"]),
        )
        z = morton_interleave(zorder_buckets(df, zorder_by, zbits), zbits)
        bucketed = df.withColumn(
            "__bucket",
            F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(self.num_buckets)),
        ).withColumn("__z", z)
        w = Window.partitionBy("__bucket").orderBy("__z", *keys)
        wcnt = Window.partitionBy("__bucket")
        sliced = bucketed.withColumn(
            "__slot",
            F.floor(
                (F.row_number().over(w) - 1)
                * files_per_bucket
                / F.count(F.lit(1)).over(wcnt)
            ).cast("int"),
        )

        txn = uuid.uuid4().hex[:8]
        out_dir = os.path.join(self._data_dir, txn)
        (
            sliced.repartition(
                self.num_buckets * files_per_bucket, "__bucket", "__slot"
            )
            .sortWithinPartitions("__bucket", "__slot", "__z")
            .drop("__z")
            .write.partitionBy("__bucket", "__slot")
            .mode("overwrite")
            .parquet(out_dir)
        )
        new_buckets: dict[str, list[str]] = {}
        for entry in sorted(os.listdir(out_dir)):
            if not entry.startswith("__bucket="):
                continue
            b = entry.split("=", 1)[1]
            bdir = os.path.join(out_dir, entry)
            fs = [
                os.path.join(bdir, slot_dir, f)
                for slot_dir in sorted(os.listdir(bdir))
                if slot_dir.startswith("__slot=")
                for f in sorted(os.listdir(os.path.join(bdir, slot_dir)))
                if f.endswith(".parquet")
            ]
            if fs:
                new_buckets[b] = fs
        self._commit(
            version + 1,
            new_buckets,
            {
                "keys": keys,
                "operation": "optimize",
                "data_change": False,
                "zorder_by": list(zorder_by),
                "files_per_bucket": files_per_bucket,
                "schema": manifest.get("schema"),
            },
        )
        return version + 1
