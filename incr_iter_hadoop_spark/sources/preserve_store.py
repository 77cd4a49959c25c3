"""On-disk, versioned preserve store (SURVEY §2.8 I6, §4).

The reference's MRBG-store keeps every reduce group's inputs and output in an
indexed local file so an incremental run can point-look-up just the affected
groups (IFile.PreserveFile, incr-hadoop-0.1/src/mapred/org/apache/hadoop/
mapred/IFile.java:478-1100; in-place result update updateResKV at
IFile.java:805-930; re-reduce read path ReduceTask.java:3324-3500).

Spark-first redesign — no point-lookup server, no in-place mutation:

- **Base state** = two bucketed, key-sorted external Parquet tables
  (``contribs``, ``results``), hash-bucketed by group key. Bucketing gives
  exchange-free joins against co-bucketed relations; the within-bucket sort
  gives tight page-level min/max stats.
- **A refresh is a layer, not a rewrite**: each ``refresh(delta)`` writes
  ``layers/v<N>/`` holding only the *affected* group keys, those groups'
  complete post-refresh contributions, and their recomputed results —
  O(|delta| + |affected groups' contribs|) I/O, never O(|state|). This is
  the immutable analogue of the reference's in-place updateResKV.
- **Point lookup ≈ predicate pushdown**: reading the affected groups back
  out applies an ``isin`` filter on the bucketed/sorted key, so Spark prunes
  whole buckets (hash) and then Parquet column indexes prune pages (sort) —
  the two-level index the reference built by hand.
- **Reconstruction is last-layer-wins at group granularity**: a group's
  current contribs/result live entirely in the highest layer that touched it
  (or the base). ``compact()`` folds all layers back into a new base.
- **Time travel for free**: layers are immutable, so any historical version
  is a bounded fold (``results_as_of``/``contribs_as_of``). ``compact()``
  retires the old era without deleting it — concurrent readers stay pinned
  to their files — and ``vacuum()`` is the explicit delete, the same
  rewrite-then-vacuum split lakehouse formats use.

Scale: at 100 TB the base tables are written once (the shuffle is paid at
write time and amortized); every later refresh touches only the affected
groups' buckets/pages, and its Spark work is sized to them:

- **Key list first.** With a single group key and at most ``inline_keys``
  affected groups, ``refresh()`` first collects the delta's distinct keys
  (and rejects NULL keys) before it stages anything. The ``affected`` side
  is written straight from the delta; nothing re-reads it, so nothing is
  cached for it.
- **Reconstruction sized to the keys.** The affected groups are read
  through an ``isin`` filter that selects at most k buckets and reaches the
  parquet reader. The read is coalesced to ``min(k, num_buckets)``
  partitions, so the pruned-empty buckets and the per-layer-file splits
  cost no task in the retraction, the union, the cache and the writes.
- More keys than ``inline_keys``, or a composite key, take the co-bucketed
  semi-join path against a cached key frame instead.

``refresh()`` sets ``spark.sql.parquet.pushdown.inFilterThreshold`` for the
isin path so exact in-filters reach the parquet reader for modest key lists
(capped at ``_PUSHDOWN_IN_MAX`` — parquet-mr's or() chain is evaluated
recursively and stack-overflows for huge lists); beyond the cap the scan
still benefits from planner-side bucket pruning and min/max range stats.
Every side's schema is recorded in the meta, so no layered read runs a
schema-inference job.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import scoped_conf
from . import occ

# max #affected group keys collected to the driver for isin() pushdown; above
# this the store falls back to a co-bucketed semi-join (still exchange-free
# on the store side). The reference does one point lookup per delta key, so a
# driver-side key list of the same cardinality is the honest analogue.
DEFAULT_INLINE_KEYS = 5000
# max in-list size pushed to parquet as an EXACT filter; larger lists get
# min/max range pushdown only (parquet-mr evaluates the or() chain
# recursively — ~1500 values overflows the executor stack)
_PUSHDOWN_IN_MAX = 200
_NULL_KEYS = (
    "PreserveStore.refresh: delta contains NULL group keys; "
    "NULL groups cannot be tracked by the layered store"
)


class PreserveStore(occ.StoreCore):
    """A named, versioned preserve store rooted at ``path``.

    ``agg_sql`` maps output column name -> SQL aggregate expression over the
    contribution columns (stored in the metadata so a fresh session can
    re-derive results without Python state).

    Single writer, many readers; commits, idempotence tokens and vacuum
    follow ``occ.StoreCore``'s contract.
    """

    _TABLE_PREFIX = "preserve"
    _KEYS = "group_keys"
    _TOKENS = "refresh_tokens"

    # Spark's planner silently falls back to a plain file scan when it judges
    # bucketing "not useful" — which also drops BUCKET PRUNING, the store's
    # whole point-read mechanism (hash(key) selects the bucket files to open,
    # everything else is never touched). refresh()/compact() pin bucketed
    # scans on for their own internal reads via ``scoped_conf``.
    _BUCKETED_SCAN_CONF = "spark.sql.sources.bucketing.autoBucketedScan.enabled"

    @property
    def group_keys(self) -> list[str]:
        return list(self.meta["group_keys"])

    @property
    def source_keys(self) -> list[str]:
        return list(self.meta["source_keys"])

    @property
    def version(self) -> int:
        return int(self.meta["version"])

    def _agg_cols(self) -> list:
        return [
            F.expr(sql).alias(name) for name, sql in self.meta["agg_sql"].items()
        ]

    # -- base tables (bucketed external parquet) ---------------------------

    def _table_name(self, which: str, era: int | None = None) -> str:
        era = int(self.meta["base_version"]) if era is None else era
        return self._catalog_name(f"{which}_v{era}")

    def _base_path(self, which: str, era: int | None = None) -> str:
        era = int(self.meta["base_version"]) if era is None else era
        return os.path.join(self.path, f"base_v{era}", which)

    def _base(self, which: str, era: int | None = None) -> DataFrame:
        return self._bucketed_table(
            self._table_name(which, era),
            self.meta["schema_ddl"][which],
            self._base_path(which, era),
        )

    def _stage_base(self, era: int, stage_root: str, meta: dict, **sides) -> None:
        """Stage the bucketed base sides of ``era`` under ``stage_root``,
        and drop any catalog entries left at their final names (they may
        carry the wrong schema or bucketing; reads re-register from
        committed meta)."""
        for which, df in sides.items():
            self._stage_bucketed(
                df, os.path.join(stage_root, which), self._table_name(which, era), meta
            )
            self._drop_tables(self._table_name(which, era))

    # -- lifecycle ---------------------------------------------------------

    def initialize(
        self,
        contribs: DataFrame,
        group_keys: list[str],
        source_keys: list[str],
        agg_sql: dict[str, str],
        *,
        num_buckets: int = 16,
    ) -> "PreserveStore":
        """I6 preserve run: materialize contributions and their aggregated
        results as the version-0 base. One full shuffle — paid exactly
        once.

        Both bases write into one staging directory renamed onto
        ``base_v0`` by the commit (a meta committed before unstaged base
        writes would let a crash between them leave a committed store
        whose lazy table registration silently serves an empty base)."""
        v0 = self._occ_begin()
        results = contribs.groupBy(*group_keys).agg(
            *[F.expr(sql).alias(name) for name, sql in agg_sql.items()]
        )
        meta = {
            "group_keys": list(group_keys),
            "source_keys": list(source_keys),
            "agg_sql": dict(agg_sql),
            "num_buckets": num_buckets,
            "version": 0,
            "base_version": 0,
            "schema_ddl": {
                "contribs": self._schema_ddl(contribs),
                "results": self._schema_ddl(results),
                "affected": self._schema_ddl(contribs.select(*group_keys)),
            },
            # era -> layer count of RETIRED (compacted-away) eras still on
            # disk; readers pinned to an old era keep working until vacuum()
            "retired": {},
        }
        with self._staged("base_v0") as stage_root:
            self._stage_base(0, stage_root, meta, contribs=contribs, results=results)
            self._write_meta(
                meta,
                expect=v0,
                op="PreserveStore.initialize",
                publish=lambda: occ.publish_dir(
                    stage_root, os.path.join(self.path, "base_v0")
                ),
            )
        return self

    # -- layered reads -----------------------------------------------------

    def _layer_path(self, v: int, which: str, era: int | None = None) -> str:
        era = int(self.meta["base_version"]) if era is None else era
        return os.path.join(self.path, f"layers/b{era}/v{v}", which)

    def _reader(self, which: str):
        """Parquet reader with the stored explicit schema (no inference
        job, no sampled-file dependence). Stores written before the
        ``affected`` side had a recorded DDL still infer that side."""
        ddl = self.meta["schema_ddl"].get(which)
        return self.spark.read.schema(ddl) if ddl else self.spark.read

    def _affected_keys(self, delta: DataFrame) -> DataFrame:
        """The delta's distinct group keys, cast to the store's key types
        where the ``affected`` DDL is recorded: an ``int``-keyed delta
        then writes ``bigint`` affected files into a ``bigint`` store,
        matching the DDL every layered read applies."""
        keys = delta.select(*self.group_keys)
        ddl = self.meta["schema_ddl"].get("affected")
        if ddl:
            keys = keys.select(
                *[
                    F.col(f.name).cast(f.dataType)
                    for f in StructType.fromDDL(ddl).fields
                ]
            )
        return keys.distinct()

    def _layer(self, v: int, which: str, era: int | None = None) -> DataFrame:
        return self._reader(which).parquet(self._layer_path(v, which, era))

    def _layers(self, n: int, which: str, era: int | None = None) -> DataFrame:
        """Layers 1..n as ONE multi-path scan, ``_v`` parsed from the layer
        directory name (``layers/b<era>/v<N>/<which>/part-*``, written by
        ``_layer_path`` so the pattern is store-controlled). One scan node
        instead of n: a per-layer unionByName chain costs one file listing
        and one plan subtree PER LAYER — driver-side analysis time grows
        linearly with store depth,
        and on object storage each listing is a round trip. A single
        multi-path scan lists in one parallelized pass, keeps the plan a
        constant size, and still pushes the group-key filter into every
        file."""
        paths = [self._layer_path(v, which, era) for v in range(1, n + 1)]
        # anchored to the data-file position (layers/b<e>/v<N>/<which>/
        # part-*): an unanchored leftmost match would pick up a matching
        # segment from the store root's own path and stamp the wrong _v
        # on every row with no error. Explicit schema from meta where
        # recorded (see _reader).
        return self._reader(which).parquet(*paths).withColumn(
            "_v",
            F.regexp_extract(
                F.input_file_name(), r"/layers/b\d+/v(\d+)/[^/]+/[^/]+$", 1
            ).cast("int"),
        )

    def _pruned(self, df: DataFrame, keys_filter) -> DataFrame:
        if keys_filter is None:
            return df
        return df.where(keys_filter)

    def _era_layers(self, era: int | None) -> int:
        """Number of layers in ``era`` (None/current era → live version)."""
        cur = int(self.meta["base_version"])
        if era is None or era == cur:
            return self.version
        retired = self.meta.get("retired", {})
        if str(era) not in retired:
            raise ValueError(
                f"PreserveStore: unknown era {era} (current {cur}, retired "
                f"{sorted(retired)}) — vacuumed eras are unreadable"
            )
        return int(retired[str(era)])

    def _current(
        self,
        which: str,
        keys_filter=None,
        affected: DataFrame | None = None,
        upto: int | None = None,
        era: int | None = None,
    ):
        """Last-layer-wins reconstruction of ``contribs`` or ``results``,
        optionally restricted to the groups matching ``keys_filter`` (an
        in-list Column — bucket + page pruned) or ``affected`` (a group-key
        DataFrame — co-bucketed semi-join fallback). ``upto`` bounds the
        reconstruction at a layer version (time travel — layers are
        immutable, so any historical version is just a shorter fold);
        ``era`` addresses a retired base generation."""
        gk = self.group_keys
        n = self._era_layers(era) if upto is None else upto
        if n > self._era_layers(era) or n < 0:
            raise ValueError(
                f"PreserveStore: version {n} does not exist in era "
                f"{era if era is not None else self.meta['base_version']} "
                f"(0..{self._era_layers(era)})"
            )
        base = self._pruned(self._base(which, era), keys_filter)
        if affected is not None:
            base = base.join(affected, gk, "left_semi")
        if n == 0:
            # no layers in view: the base IS the state — skip the
            # last-layer-wins join entirely (it would join against an empty
            # touched-set and still cost a stage per read)
            return base
        lay = self._pruned(self._layers(n, which, era), keys_filter)
        if affected is not None:
            lay = lay.join(affected, gk, "left_semi")
        tagged = base.withColumn("_v", F.lit(0)).unionByName(lay)
        # the layer that last touched a group holds ALL of that group's rows;
        # affected-key files record touches even when the group vanished
        touched = self._touched_versions(keys_filter, affected, n, era)
        last = tagged.join(touched, gk, "left").where(
            F.col("_v") == F.coalesce(F.col("_last_v"), F.lit(0))
        )
        return last.drop("_v", "_last_v")

    def _touched_versions(
        self,
        keys_filter=None,
        affected: DataFrame | None = None,
        n: int | None = None,
        era: int | None = None,
    ):
        """(group_keys, _last_v): highest layer ≤ n that touched each group."""
        gk = self.group_keys
        n = self._era_layers(era) if n is None else n
        if n == 0:
            # no layers yet: empty frame with the right shape
            return (
                self._base("results", era)
                .select(*gk, F.lit(0).alias("_last_v"))
                .limit(0)
            )
        aff = self._pruned(self._layers(n, "affected", era), keys_filter)
        if affected is not None:
            aff = aff.join(affected, gk, "left_semi")
        return aff.groupBy(*gk).agg(F.max("_v").alias("_last_v"))

    def current_results(self) -> DataFrame:
        return self._current("results")

    def current_contribs(self) -> DataFrame:
        return self._current("contribs")

    # -- time travel (I5 iteration-snapshot analogue) ----------------------
    # The reference preserves per-iteration state snapshots it can re-read
    # (ReduceTask.java:3359-3372); here every layer is immutable, so ANY
    # historical version is readable as a bounded fold — no extra storage.

    def results_as_of(
        self, version: int, base_version: int | None = None
    ) -> DataFrame:
        """State of ``results`` after layer ``version`` of the given era
        (version 0 = that era's base). Versions of a retired era stay
        readable after compact() until vacuum() — the version pin that
        keeps concurrent readers safe across compaction."""
        return self._current("results", upto=version, era=base_version)

    def contribs_as_of(
        self, version: int, base_version: int | None = None
    ) -> DataFrame:
        return self._current("contribs", upto=version, era=base_version)

    # -- incremental refresh (I7 + I8) -------------------------------------

    def refresh(
        self,
        delta: DataFrame,
        op_col: str = "op",
        *,
        inline_keys: int = DEFAULT_INLINE_KEYS,
        max_layers: int | None = None,
        token: str | None = None,
    ) -> int:
        """Apply a (+/-) delta as a new layer; returns the new version.

        '-' rows retract the contribution with the same (group, source) key;
        '+' rows insert. Only the affected groups are read (bucket- and
        page-pruned point reads when the key list is small; co-bucketed
        semi-join otherwise) and only they are written back —
        O(|delta| + |affected contribs|), the reference's re-reduce contract
        (ReduceTask.java:3324-3500).

        ``token``: idempotence handle for at-least-once callers (a retried
        orchestrator task, a replayed ``foreachBatch`` micro-batch): a
        replayed refresh with a seen token is a no-op returning the version
        it committed (``occ.StoreCore``). Tokens survive ``compact()`` (the
        application is folded into the new base; the recorded version then
        refers to the retired era).

        ``max_layers``: LSM-style cadence — when the layer count reaches it
        after this refresh, ``compact()`` folds everything into a fresh base
        (the reference's periodic store rewrite, IFile.java:931-1015), so
        read cost stays bounded over an unbounded refresh stream. Returns
        the store version after any compaction (0 right after one)."""
        # scope: bucketed scans pinned on for the point reads below; the
        # inFilterThreshold is mutated inside (probe-dependent) and listed
        # here at its current value so the exit restores BOTH to the
        # session's prior settings (no session-global leaks).
        v0 = self._occ_begin()
        seen = self._seen_token(token)
        if seen is not None:
            return seen
        with scoped_conf(
            self.spark,
            {
                self._BUCKETED_SCAN_CONF: "false",
                "spark.sql.parquet.pushdown.inFilterThreshold": self.spark.conf.get(
                    "spark.sql.parquet.pushdown.inFilterThreshold"
                ),
            },
        ):
            return self._refresh_locked(
                delta,
                op_col,
                inline_keys=inline_keys,
                max_layers=max_layers,
                token=token,
                occ_expect=v0,
            )

    def _refresh_locked(
        self,
        delta: DataFrame,
        op_col: str = "op",
        *,
        inline_keys: int = DEFAULT_INLINE_KEYS,
        max_layers: int | None = None,
        token: str | None = None,
        occ_expect: int | None = None,
    ) -> int:
        gk, sk = self.group_keys, self.source_keys
        v = self.version + 1
        # all three layer sides write into ONE unique staging directory,
        # renamed onto layers/b<B>/v<N> inside the commit's critical
        # section — a loser's write can never land on a committed version
        # name (see occ.commit_meta). Staged dirs are invisible until
        # published at the meta version bump.
        bv = int(self.meta["base_version"])
        stage_parent = os.path.join(
            self.path, f"layers/b{bv}", occ.stage_name(f"v{v}")
        )
        final_parent = os.path.join(self.path, f"layers/b{bv}/v{v}")
        meta = dict(self.meta)
        meta["version"] = v
        # version numbers reset at compact, which can only over-retain
        # tokens (never drop a within-window one)
        self._record_token(meta, token, v)
        delta = delta.persist()
        cached = [delta]
        # one try/finally for staging and caching: a refresh that raises
        # anywhere before its commit (NULL keys, a failed write, a lost
        # OCC race) leaves neither a staged directory nor a cached frame.
        # After a successful publish the staged name no longer exists.
        try:
            keys_df = self._affected_keys(delta)
            # the probe decides the pruning strategy AND yields the key
            # list, before anything is staged (limit(n+1) instead of
            # count()+collect(): one action, not two)
            probe = (
                keys_df.limit(inline_keys + 1).collect()
                if len(gk) == 1
                else None
            )
            if probe is not None and len(probe) <= inline_keys:
                keys = [r[0] for r in probe]
                # NULL group keys can neither isin()-match nor equi-join
                # `touched` in _current — either path would silently drop
                # the delta row while the affected file still records it.
                # Reject them loudly (the reference's reduce keys are
                # never null).
                if any(k is None for k in keys):
                    raise ValueError(_NULL_KEYS)
                # nothing reads the affected keys again on this path, so
                # they are written straight from the delta, uncached
                keys_df.write.mode("overwrite").parquet(
                    os.path.join(stage_parent, "affected")
                )
                # keep the EXACT in-filter eligible for parquet pushdown
                # for modest key lists (above the threshold Spark demotes
                # it to a min/max range filter). Capped: the exact pushdown
                # compiles to a values-deep or() chain in parquet-mr whose
                # recursive evaluation stack-overflows around a thousand
                # keys — beyond the cap the range filter + planner-side
                # bucket pruning still apply.
                self.spark.conf.set(
                    "spark.sql.parquet.pushdown.inFilterThreshold",
                    str(min(max(len(keys), 10), _PUSHDOWN_IN_MAX)),
                )
                # k keys select at most k buckets; coalescing to that many
                # partitions stops the pruned-empty buckets and the
                # per-layer-file splits from costing one task each in
                # every later stage
                prior = self._current(
                    "contribs", F.col(gk[0]).isin(keys)
                ).coalesce(
                    max(1, min(len(keys), int(self.meta["num_buckets"])))
                )
            else:
                affected = keys_df.persist()
                cached.append(affected)
                if affected.where(
                    " OR ".join(f"`{k}` IS NULL" for k in gk)
                ).limit(1).count():
                    raise ValueError(_NULL_KEYS)
                affected.write.mode("overwrite").parquet(
                    os.path.join(stage_parent, "affected")
                )
                prior = self._current("contribs", affected=affected)

            plus = delta.where(F.col(op_col) == "+").drop(op_col)
            minus = delta.where(F.col(op_col) == "-").drop(op_col)
            new_contribs = prior.join(
                minus.select(*gk, *sk).distinct(), gk + sk, "left_anti"
            ).unionByName(plus)
            new_contribs = new_contribs.persist()
            cached.append(new_contribs)
            recomputed = new_contribs.groupBy(*gk).agg(*self._agg_cols())

            new_contribs.write.mode("overwrite").parquet(
                os.path.join(stage_parent, "contribs")
            )
            recomputed.write.mode("overwrite").parquet(
                os.path.join(stage_parent, "results")
            )
            self._write_meta(
                meta,
                expect=occ_expect,
                op="PreserveStore.refresh",
                publish=lambda: occ.publish_dir(stage_parent, final_parent),
            )
        finally:
            for df in reversed(cached):
                df.unpersist()
            shutil.rmtree(stage_parent, ignore_errors=True)
        if max_layers is not None and v >= max_layers:
            self.compact()
        return self.version

    # -- maintenance -------------------------------------------------------

    def compact(self) -> None:
        """Fold every layer into a fresh base (the reference's store rewrite,
        IFile.java:931-1015). O(|state|) — run at a cadence where
        Σ|layers| justifies it, exactly like LSM compaction.

        The superseded era (base + layers) is RETIRED, not deleted: its
        files stay on disk and its versions stay readable via
        ``*_as_of(..., base_version=old)``, so a reader holding a
        reconstruction DataFrame planned before the compaction never loses
        its files mid-query. ``vacuum()`` is the explicit delete step —
        the same rewrite-then-vacuum split lakehouse table formats use."""
        v0 = self._occ_begin()
        with scoped_conf(self.spark, {self._BUCKETED_SCAN_CONF: "false"}):
            self._compact_locked(occ_expect=v0)

    def _compact_locked(self, *, occ_expect: int | None = None) -> None:
        contribs = self.current_contribs()
        results = self.current_results()
        meta = dict(self.meta)
        old_base_version = int(meta["base_version"])
        new_base_version = old_base_version + 1
        meta["base_version"] = new_base_version
        old_version = meta["version"]
        meta["version"] = 0
        retired = dict(meta.get("retired", {}))
        retired[str(old_base_version)] = old_version
        meta["retired"] = retired
        # the new base is staged before the commit: a crash leaves the old
        # base intact, and a losing compact can never clobber a committed
        # base of the same number
        with self._staged(f"base_v{new_base_version}") as stage_root:
            self._stage_base(
                new_base_version, stage_root, meta, contribs=contribs, results=results
            )
            self._write_meta(
                meta,
                expect=occ_expect,
                op="PreserveStore.compact",
                publish=lambda: occ.publish_dir(
                    stage_root, os.path.join(self.path, f"base_v{new_base_version}")
                ),
            )

    def vacuum(self, retain_sec: float = 0.0) -> None:
        """Delete every retired era's base + layers and drop their catalog
        registrations. Call once no reader still needs pre-compaction
        versions — retired eras are a full state snapshot each, so leaving
        them forever leaks O(|state|) disk per compaction. Commits first
        and deletes after (``occ.StoreCore``); ``retain_sec`` keeps
        just-retired eras for readers still holding plans over them."""
        v0 = self._occ_begin()
        if self.meta.get("retired", {}):
            meta = dict(self.meta)
            meta["retired"] = {}
            self._write_meta(meta, expect=v0, op="PreserveStore.vacuum")
        self._sweep_orphans(retain_sec)

    def _orphan_tables(self, rel: str) -> list[str] | None:
        """``base_v<e>`` and ``layers/b<e>`` are referenced while ``e`` is
        the live era or a retired, still-readable one. Lock-free, an
        unreferenced one may be a concurrent writer's just-published data
        (``occ.final_is_sweepable``). Refresh staging lives inside the
        live era's ``layers/b<e>``."""
        m = re.fullmatch(r"(base_v|layers/b)(\d+)", rel)
        if not m:
            return None
        era = int(m.group(2))
        if (
            era == int(self.meta["base_version"])
            or str(era) in self.meta.get("retired", {})
            or not occ.final_is_sweepable(
                os.path.join(self.path, rel), self.stage_retention_sec
            )
        ):
            return None
        if m.group(1) == "layers/b":
            return []
        return [self._table_name(which, era) for which in ("contribs", "results")]
