"""SCD Type-2 dimension store: the preserve-store layer mechanism applied
to versioned dimensions (I6 applied to the SCD2 operator).

``operators/incremental.py:scd2_apply`` is a pure transformation — it
versions a dimension inside one plan but persists nothing, so history was
only as durable as the caller's output. This store gives versioned
dimensions the same crash-consistency and time-travel contract the
refresh state has (``sources/preserve_store.py``, the MRBG-store analogue
— IFile.PreserveFile, incr-hadoop-0.1/src/mapred/org/apache/hadoop/
mapred/IFile.java:478-1100 — re-expressed as immutable layers):

- **Base** = bucketed, key-sorted external parquet: the dimension snapshot
  at era 0 (every row implicitly ``valid_from = 0``). Bucketing by the
  dimension key keeps point-in-time joins against co-bucketed facts
  exchange-free on the store side.
- **An era is a layer, not a rewrite**: ``apply_era(changes)`` writes ONLY
  the change rows (new attribute values per key, inserts for new keys) to
  ``layers/e<N>/`` — O(|changes|) I/O, append-only, history never touched.
- **Closes are derived, not stored**: a version opened at era *e* is
  closed by the NEXT version of the same key, so ``valid_to`` is
  ``lead(valid_from)`` over the key window at read time — one window, no
  stored mutation of prior rows. (``scd2_apply`` materializes the same
  close with a semi-join; deriving it keeps layers strictly append-only,
  which is what makes the commit trivial.)
- **The meta era bump is the atomic commit point** (the preserve store's
  version-bump discipline): the layer write targets a UNIQUE STAGING
  directory renamed onto ``layers/e<N>`` inside the commit
  (``occ.StoreCore``), so a crash before the commit leaves only an
  invisible ``.stage-*`` orphan and a concurrent loser's data files
  cannot land on a committed era name.
- **Time travel for free**: ``history_as_of(era)`` folds base + layers
  1..era; every committed era stays readable forever (layers are
  immutable and never compacted away — an SCD2 history IS its layers).

Scale: the base shuffle is paid once at ``initialize``; each era costs
O(|changes|) write. ``history_as_of`` unions the base scan with the layer
scans and pays one key-window shuffle — at 100 TB the window runs on the
dimension (small next to facts), and the downstream point-in-time join
stays an equi-join on the key with the validity range as a residual
filter (see ``scd2_point_in_time_join``), hash-joinable at any scale.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import occ


class Scd2Store(occ.StoreCore):
    """On-disk SCD Type-2 history: era-layered, crash-consistent,
    time-traveling. One instance per store path; safe to re-open across
    sessions (meta.json carries the schema and bucketing spec).

    Single writer, many readers; commits, idempotence tokens and vacuum
    follow ``occ.StoreCore``'s contract. A loser can always re-run against
    fresh state — wrap token-carrying mutations in ``occ.retrying`` (the
    streaming sinks do) and the retry is idempotent under replay."""

    _TABLE_PREFIX = "scd2"
    _KEYS = "key_cols"
    _TOKENS = "era_tokens"

    @property
    def key_cols(self) -> list[str]:
        return list(self.meta["key_cols"])

    @property
    def era(self) -> int:
        """Latest COMMITTED era (0 = base snapshot only)."""
        return int(self.meta["era"])

    @property
    def open_end(self) -> int:
        return int(self.meta["open_end"])

    @property
    def snaps(self) -> list[int]:
        """Committed snapshot generations, ascending; 0 is the initialize
        base. ``history_as_of(e)`` reads from the newest generation ≤ e."""
        return sorted(int(s) for s in self.meta.get("snaps", [0]))

    @property
    def vacuumed_below(self) -> int:
        """Eras below this are unreadable (their pre-snapshot layers and
        generation bases were deleted by ``vacuum()``)."""
        return int(self.meta.get("vacuumed_below", 0))

    # -- storage -----------------------------------------------------------

    def _table_name(self, gen: int = 0) -> str:
        return self._catalog_name("base" if gen == 0 else f"snap{gen}")

    def _base_path(self, gen: int = 0) -> str:
        return os.path.join(
            self.path, "base" if gen == 0 else f"base_s{gen}"
        )

    def _layer_path(self, era: int) -> str:
        return os.path.join(self.path, f"layers/e{era}")

    def _gen_ddl(self, gen: int) -> str:
        # generation 0 stores the bare dimension (valid_from is implicitly
        # 0, nothing is deleted yet); snapshot generations persist the
        # folded multi-version history, so valid_from and the delete
        # tombstones are real columns
        ddl = self.meta["schema_ddl"]
        return (
            ddl
            if gen == 0
            else f"{ddl}, `valid_from` BIGINT, `_tombstone` BOOLEAN"
        )

    def _base(self, gen: int = 0) -> DataFrame:
        return self._bucketed_table(
            self._table_name(gen), self._gen_ddl(gen), self._base_path(gen)
        )

    def _gen_for(self, era: int) -> int:
        """The newest committed snapshot generation ≤ ``era`` whose
        pre-history is still on disk."""
        if era < self.vacuumed_below:
            raise ValueError(
                f"Scd2Store: era {era} was vacuumed (eras < "
                f"{self.vacuumed_below} are unreadable)"
            )
        return max(s for s in self.snaps if s <= era)

    def _layers_df(self, lo: int, hi: int) -> DataFrame | None:
        """Layers lo..hi as ONE multi-path scan with ``valid_from`` parsed
        from the layer directory name — constant plan size in era count
        (see ``PreserveStore._layers``)."""
        if hi < lo:
            return None
        paths = [self._layer_path(e) for e in range(lo, hi + 1)]
        # anchored to the data-file position (layers/e<N>/part-*): an
        # unanchored leftmost match would pick up a "/layers/eN/"
        # segment from the STORE ROOT's own path (e.g. a store created
        # inside another store's layer dir) and stamp the wrong
        # valid_from on every row with no error
        # explicit schema (the CURRENT one): no inference listing, and
        # layers written before an additive evolution (or before delete
        # support) read their missing columns as NULL instead of whatever
        # file the sampler picked — tombstone NULL normalizes to False
        ddl = self.meta["schema_ddl"] + ", `_tombstone` BOOLEAN"
        return (
            self.spark.read.schema(ddl)
            .parquet(*paths)
            .withColumn(
                "valid_from",
                F.regexp_extract(
                    F.input_file_name(), r"/layers/e(\d+)/[^/]+$", 1
                ).cast("bigint"),
            )
            .withColumn(
                "_tombstone",
                F.coalesce(F.col("_tombstone"), F.lit(False)),
            )
        )

    def _gen_pieces(
        self, era: int
    ) -> tuple[DataFrame, DataFrame | None]:
        """(generation base with a ``valid_from`` column, layers after the
        generation up to ``era`` or None). The base keeps its bucketed
        output partitioning — callers can window/join on the key with no
        Exchange on the base side."""
        g = self._gen_for(era)
        base = self._base(g)
        if g == 0:
            base = base.withColumn(
                "valid_from", F.lit(0).cast("bigint")
            ).withColumn("_tombstone", F.lit(False))
        else:
            # a generation's parquet (or a catalog entry registered before
            # delete support) may lack the column — normalize to False
            base = base.withColumn(
                "_tombstone",
                F.coalesce(F.col("_tombstone"), F.lit(False))
                if "_tombstone" in base.columns
                else F.lit(False),
            )
        return base, self._layers_df(g + 1, era)

    # -- lifecycle ---------------------------------------------------------

    def initialize(
        self,
        dim: DataFrame,
        key_cols: list[str],
        *,
        num_buckets: int = 16,
        open_end: int = 999_999,
    ) -> "Scd2Store":
        """Era-0 snapshot: every dimension row becomes the open version
        ``[0, open_end)``. One bucketed shuffle — paid exactly once.

        NULL key values are rejected, as in ``apply_era`` and
        ``PreserveStore.refresh``: a NULL-keyed version can never be closed
        by the key window nor matched by a point-in-time equi-join."""
        v0 = self._occ_begin()
        null_pred = None
        for k in key_cols:
            c = F.col(k).isNull()
            null_pred = c if null_pred is None else (null_pred | c)
        if dim.where(null_pred).limit(1).count():
            raise ValueError(
                f"Scd2Store.initialize: dimension contains NULL key values "
                f"in {list(key_cols)}; NULL keys cannot be versioned"
            )
        meta = {
            "key_cols": list(key_cols),
            "columns": list(dim.columns),
            "num_buckets": num_buckets,
            "open_end": open_end,
            "era": 0,
            "schema_ddl": self._schema_ddl(dim),
        }
        with self._staged("base") as staging:
            self._stage_bucketed(dim, staging, self._table_name(), meta)
            # a stale catalog entry from a previous store at this path may
            # carry the wrong schema/bucketing — drop it BEFORE the commit
            # so no window exists where it could serve the new files with
            # the old DDL; the first read re-registers from committed meta
            self._drop_tables(self._table_name())
            self._write_meta(
                meta,
                expect=v0,
                op="Scd2Store.initialize",
                publish=lambda: occ.publish_dir(staging, self._base_path()),
            )
        return self

    def apply_era(
        self,
        changes: DataFrame,
        *,
        deletes: DataFrame | None = None,
        token: str | None = None,
        snapshot_every: int | None = None,
    ) -> int:
        """Commit one era of changes (update rows for existing keys, insert
        rows for new keys; the attribute schema of the base dimension, plus
        optionally NEW columns — see below).

        **Additive schema evolution**: changes may carry attribute columns
        the store has never seen (the lakehouse ``mergeSchema`` contract —
        a dimension gains an attribute mid-history). The new columns are
        appended to the stored schema IN THE SAME atomic meta write as the
        era bump; every read from then on — any ``history_as_of`` era,
        ``pit_join``, ``snapshot`` — returns the latest schema, with NULL
        for versions written before the column existed (layers are read
        with the current explicit schema, so old files null-fill). Columns
        can only be ADDED: a change batch missing an existing column, or
        colliding with the derived ``valid_from``/``valid_to``/
        ``is_current`` names, is rejected loudly (dropping or retyping a
        column would silently corrupt every earlier layer's read).

        **Deletes** (the I7 retraction side applied to dimensions): rows of
        ``deletes`` (key columns; anything else is ignored) TERMINATE their
        key at this era — the current version's ``valid_to`` closes at
        ``era`` and no version is open afterwards, so the key vanishes
        from ``is_current`` reads and from ``pit_join`` matches at
        fact-eras ≥ the delete. Mechanism: the layer stores a TOMBSTONE
        row (NULL attributes, ``_tombstone = true``) that participates in
        the read-time close window — closing the prior version exactly
        like an update would — and is then filtered from every output, so
        layers stay append-only and history below the delete is
        untouched. A later era may re-insert the key (a fresh version
        opens; the gap stays unmatched). A key may not be both changed
        and deleted in one era.

        **Contract: at most ONE row per key per era, and keys are non-NULL**
        — enforced here, not assumed. Two versions of a key in a single era
        would share one ``valid_from``, so the read-time ``lead()`` window
        would assign one of them a zero-width ``[e, e)`` interval
        nondeterministically, silently diverging from chained
        ``scd2_apply``; NULL keys can never be matched by the key window or
        a downstream point-in-time equi-join. Both are rejected loudly
        BEFORE the layer write (one aggregate over the small changes set).

        ``token``: idempotence handle for at-least-once callers (Structured
        Streaming ``foreachBatch`` replays a micro-batch whose commit
        didn't land). A token is recorded IN THE SAME meta write as the era
        bump — one atomic commit — so a replayed apply with a seen token
        returns the already-committed era instead of double-applying the
        changes as a phantom era. Pass the micro-batch id (see
        ``streaming/incremental_stream.streaming_scd2_eras``). Only the
        tokens of the last ``_TOKEN_KEEP`` eras are kept
        (``occ.StoreCore``).

        ``snapshot_every``: LSM-style cadence (the PreserveStore
        ``max_layers`` analogue) — when the layer count since the newest
        generation reaches it after this commit, ``snapshot()`` folds them
        into a new bucketed generation so read cost stays bounded over an
        unbounded era stream (older eras stay readable until ``vacuum()``).

        O(|changes|) write, zero reads of prior state: the close of the
        superseded versions is derived at read time, so nothing here needs
        to know which keys exist. The meta era bump at the end is the
        atomic commit point — a crash before it leaves the history exactly
        at the previous era."""
        v0 = self._occ_begin()
        seen = self._seen_token(token)
        if seen is not None:
            # the first attempt may have committed the era and then
            # lost/crashed inside its cadence snapshot — re-check the
            # cadence condition on this dedupe path too, so a replayed
            # apply heals the skipped fold instead of returning with read
            # depth above the requested cadence
            self._cadence_snapshot(snapshot_every)
            return seen
        keys = self.key_cols
        cols = list(self.meta["columns"])
        missing = [c for c in cols if c not in changes.columns]
        if missing:
            raise ValueError(
                f"Scd2Store.apply_era: changes are missing existing "
                f"column(s) {missing}; schema evolution is additive only"
            )
        new_cols = [c for c in changes.columns if c not in cols]
        # reserved names: the derived validity columns AND the internal
        # tombstone marker — a changes batch smuggling '_tombstone' in
        # would otherwise be treated as a schema-evolution column, have
        # its values clobbered by the lit(False) below, and then crash
        # the layer write with an opaque duplicate-column error
        clash = {
            "valid_from", "valid_to", "is_current", "_tombstone"
        } & set(new_cols)
        if clash:
            raise ValueError(
                f"Scd2Store.apply_era: new column(s) {sorted(clash)} "
                f"collide with the store's derived validity / internal "
                f"tombstone columns"
            )
        chk = changes.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(*[F.col(k) for k in keys]).alias("n_keys"),
            F.sum(
                F.when(
                    F.greatest(*[F.col(k).isNull() for k in keys])
                    if len(keys) > 1
                    else F.col(keys[0]).isNull(),
                    1,
                ).otherwise(0)
            ).alias("n_null"),
        ).first()
        if chk["n_null"]:
            raise ValueError(
                f"Scd2Store.apply_era: {chk['n_null']} change row(s) carry "
                f"NULL key values in {keys}; NULL keys cannot be versioned"
            )
        if chk["n_keys"] != chk["n"]:
            raise ValueError(
                f"Scd2Store.apply_era: changes carry duplicate keys "
                f"({chk['n']} rows, {chk['n_keys']} distinct {keys}); one "
                f"era admits at most one version per key — pre-aggregate "
                f"to last-change-wins or split into multiple eras"
            )
        layer = changes.select(*cols, *new_cols).withColumn(
            "_tombstone", F.lit(False)
        )
        if deletes is not None:
            ks = deletes.select(*keys).distinct()
            n_del = ks.count()
            if n_del:
                if ks.where(
                    F.greatest(*[F.col(k).isNull() for k in keys])
                    if len(keys) > 1
                    else F.col(keys[0]).isNull()
                ).limit(1).count():
                    raise ValueError(
                        f"Scd2Store.apply_era: deletes carry NULL key "
                        f"values in {keys}"
                    )
                both = changes.join(ks, keys, "left_semi").limit(1).count()
                if both:
                    raise ValueError(
                        "Scd2Store.apply_era: key(s) appear in BOTH "
                        "changes and deletes for one era — a key is "
                        "either updated or terminated, not both"
                    )
                types = {
                    f.name: f.dataType.simpleString()
                    for f in self.spark.createDataFrame(
                        [], self.meta["schema_ddl"]
                    ).schema.fields
                }
                types.update(
                    {
                        f.name: f.dataType.simpleString()
                        for f in changes.schema.fields
                        if f.name in new_cols
                    }
                )
                tombs = ks.select(
                    *keys,
                    *[
                        F.lit(None).cast(types[c]).alias(c)
                        for c in cols + new_cols
                        if c not in keys
                    ],
                ).withColumn("_tombstone", F.lit(True))
                layer = layer.unionByName(tombs)
        e = self.era + 1
        meta = dict(self.meta)
        meta["era"] = e
        if new_cols:
            meta["columns"] = cols + new_cols
            meta["schema_ddl"] = (
                meta["schema_ddl"]
                + ", "
                + self._schema_ddl(changes.select(*new_cols))
            )
            # invalidate the session's catalog entries BEFORE the commit:
            # the next read re-creates them from the (then-committed)
            # evolved DDL; a crash in between re-creates from the old meta
            # — consistent either way (a writer whose begin-state was
            # superseded fails at the commit's OCC compare)
            self._drop_tables(*(self._table_name(g) for g in self.snaps))
        self._record_token(meta, token, e)
        with self._staged("layer", os.path.join(self.path, "layers")) as staging:
            layer.select(*cols, *new_cols, "_tombstone").write.mode(
                "overwrite"
            ).parquet(staging)
            self._write_meta(
                meta,
                expect=v0,
                op="Scd2Store.apply_era",
                publish=lambda: occ.publish_dir(staging, self._layer_path(e)),
            )
        self._cadence_snapshot(snapshot_every)
        return e

    def _cadence_snapshot(self, snapshot_every: int | None) -> None:
        """Fold when the layer count since the newest generation reaches
        the requested cadence. Runs AFTER the era commit (the fold is
        maintenance, not part of the era's atomicity) and is wrapped in
        ``occ.retrying`` against FRESH state per attempt: a
        snapshot losing an OCC race to a concurrent writer re-reads the
        committed meta, re-checks the cadence — a racing writer may have
        folded already, making this a no-op instead of the
        behind-newest-generation error — and folds at the then-latest
        era. Safe to retry: ``snapshot()`` is idempotent at a folded era
        and never deletes."""
        if snapshot_every is None:
            return

        def fold():
            self._meta = None  # fresh committed state per attempt
            e = self.era
            if e - max(self.snaps) >= snapshot_every:
                try:
                    self.snapshot(e)
                except ValueError as ve:
                    # a racing writer folded at a LATER era between this
                    # check and snapshot()'s own begin — their fold
                    # satisfies the cadence; anything else propagates
                    if "behind the newest generation" not in str(ve):
                        raise

        occ.retrying(fold)

    # -- reads -------------------------------------------------------------

    def _check_era(self, era: int | None) -> int:
        last = self.era
        if era is None:
            era = last
        if not (0 <= era <= last):
            raise ValueError(
                f"Scd2Store: era {era} not committed (latest {last})"
            )
        return era

    def history_as_of(self, era: int | None = None) -> DataFrame:
        """The full SCD2 history visible at ``era`` (default: latest
        committed): attribute columns + valid_from / valid_to / is_current.

        Reconstruction = generation base ∪ layers after it up to ``era``
        (ONE multi-path scan — constant plan size in era count), then
        one key-window derives ``valid_to`` as the next version's open era
        (``open_end`` if none) — identical semantics to chaining
        ``scd2_apply`` once per era (pinned by tests/test_scd2_store.py),
        but from immutable on-disk layers. After ``snapshot(s)``, reads at
        era ≥ s fold the snapshot base + only the layers after s — the
        read cost is bounded by snapshot cadence instead of growing with
        total history depth — while eras < s stay readable from the older
        generation until ``vacuum()``."""
        era = self._check_era(era)
        h, layers = self._gen_pieces(era)
        if layers is not None:
            h = h.unionByName(layers)
        w = Window.partitionBy(*self.key_cols).orderBy("valid_from")
        # tombstones participate in the window (closing the version they
        # terminate) and are then dropped from the output
        return (
            h.withColumn(
                "valid_to",
                F.coalesce(
                    F.lead("valid_from").over(w), F.lit(self.open_end)
                ).cast("bigint"),
            )
            .where(~F.col("_tombstone"))
            .drop("_tombstone")
            .withColumn("is_current", F.col("valid_to") == self.open_end)
        )

    # -- snapshot / vacuum (bounded-depth reads without losing history) ----

    def snapshot(self, era: int | None = None) -> int:
        """Fold base + layers ≤ ``era`` (default: latest committed) into a
        new bucketed generation base holding the FULL multi-version history
        up to that era (``valid_from`` becomes a stored column — an SCD2
        store never discards versions, so a snapshot is a fold, not a
        truncation). Reads at era ≥ the snapshot then pay one bucketed
        scan + the layers SINCE it — constant in total history depth, which
        is what makes a never-compacting dimension viable at 1200
        refreshes/year. Older eras keep reading from the previous
        generation (time travel survives a snapshot) until ``vacuum()``.

        The new generation is staged and renamed onto ``base_s<era>`` by
        the commit; a crashed snapshot leaves only an invisible
        ``.stage-*`` (or, if it died between publish and the meta replace,
        an uncommitted ``base_s<era>``) orphan that a retry republishes
        over and ``vacuum()`` reclaims."""
        v0 = self._occ_begin()
        era = self._check_era(era)
        if era in self.snaps:
            return era  # already a generation boundary — idempotent
        if era < max(self.snaps):
            raise ValueError(
                f"Scd2Store: cannot snapshot at era {era} behind the newest "
                f"generation {max(self.snaps)}"
            )
        h, layers = self._gen_pieces(era)
        if layers is not None:
            h = h.unionByName(layers)
        meta = dict(self.meta)
        meta["snaps"] = sorted(set(self.snaps) | {era})
        with self._staged(f"base_s{era}") as staging:
            # tombstones fold into the generation unfiltered — they keep
            # closing the versions they terminated
            self._stage_bucketed(
                h.select(*meta["columns"], "valid_from", "_tombstone"),
                staging,
                self._table_name(),
                meta,
            )
            # drop a stale catalog entry for this generation name (e.g. from
            # a pre-crash attempt) BEFORE the commit — no window may exist
            # where an old entry serves the new files; reads re-register
            self._drop_tables(self._table_name(era))
            self._write_meta(
                meta,
                expect=v0,
                op="Scd2Store.snapshot",
                publish=lambda: occ.publish_dir(staging, self._base_path(era)),
            )
        return era

    def vacuum(self, retain_sec: float = 0.0) -> None:
        """Delete every pre-newest-generation artifact: older generation
        bases and all layers ≤ the newest snapshot era (their content is
        folded into the newest generation, so no VERSION is lost — only
        the ability to read ``history_as_of(e)`` for e below the snapshot).
        Eras below the newest snapshot become unreadable and are rejected
        loudly. ``snapshot()`` never deletes, so a reader holding a plan
        over the old generation keeps its files until the caller
        explicitly vacuums. Commits first and deletes after
        (``occ.StoreCore``); ``retain_sec`` keeps just-retired artifacts
        for readers and writers whose in-flight scans still hold plans
        over them (a writer's own cadence ``snapshot()`` read is such a
        scan)."""
        v0 = self._occ_begin()
        newest = max(self.snaps)
        if self.snaps != [newest] or self.vacuumed_below < newest:
            meta = dict(self.meta)
            meta["snaps"] = [newest]
            meta["vacuumed_below"] = newest
            self._write_meta(meta, expect=v0, op="Scd2Store.vacuum")
        self._sweep_orphans(retain_sec)

    def _orphan_tables(self, rel: str) -> list[str] | None:
        """Generation bases (``base``, ``base_s<g>``) are referenced while
        ``g`` is in ``snaps``; lock-free, an unreferenced one may be a
        concurrent snapshot's just-published generation
        (``occ.final_is_sweepable``). Layers ``layers/e<N>`` at or below
        ``vacuumed_below`` are orphans with no such gate: a concurrent
        ``apply_era`` publishes era committed+1 > ``vacuumed_below``,
        never a name at or below it."""
        m = re.fullmatch(r"base(?:_s(\d+))?|layers/e(\d+)", rel)
        if not m:
            return None
        if m.group(2) is not None:
            return [] if int(m.group(2)) <= self.vacuumed_below else None
        gen = int(m.group(1) or 0)
        if gen in self.snaps or not occ.final_is_sweepable(
            os.path.join(self.path, rel), self.stage_retention_sec
        ):
            return None
        return [self._table_name(gen)]

    # -- point-in-time join ------------------------------------------------

    def pit_join(
        self,
        facts: DataFrame,
        era_col: str,
        as_of: int | None = None,
        era_cache: dict | None = None,
    ) -> DataFrame:
        """Join each fact row to the dimension version valid at the fact's
        own era (``facts[era_col]`` ∈ [version.valid_from, version.valid_to)
        — THE standard warehouse query over a versioned dimension), reading
        history from the store so the join is durable and co-bucketed.

        Plan (the 100 TB story — at scale, shuffling the FACTS is the whole
        cost, and this plan never does):

        - **cold branch** (keys untouched by any layer after the
          generation — the overwhelming majority under SCD2's
          few-changes-per-era premise): generation base is bucketed on the
          key, so the valid_to window runs with NO Exchange, and facts
          bucketed on the same key/count sort-merge join it with NO
          Exchange on either side (pinned by
          tests/test_scd2_store.py::test_pit_join_cold_branch_no_exchange).
        - **hot branch** (keys with a post-generation layer row —
          O(|changes|)): their full history (generation rows for those
          keys ∪ layers) pays one small window shuffle, then BROADCASTS
          into the facts — no fact movement. The broadcast is safe for the
          same reason the store is append-only: an era is a changes batch,
          small next to the dimension; a full-dimension rewrite should be
          a new ``initialize``/``snapshot``, not an era.

        Output: facts columns + the dimension attribute columns of the
        matched version (validity bookkeeping dropped). Facts whose key has
        no version, or whose era falls outside every version's range
        (e.g. negative), are dropped — inner PIT semantics.

        ``era_cache`` (for callers that join MANY fact batches against the
        same committed era, e.g. each micro-batch of
        ``streaming_pit_enrich``): a caller-owned dict this method uses
        to memoize the prepared history pieces (touched keys + cold/hot
        history as lazy ``localCheckpoint``s) keyed on the resolved era.
        Batch 0 materializes them through its own join; later batches at
        the same era skip the touched-keys job and the base window/anti/
        semi re-derivation entirely. The cache holds DataFrames derived
        from the store's COMMITTED state only — values are invalidated
        when the resolved era moves, so results are identical with or
        without it. Checkpoint RDDs are freed by the ContextCleaner when
        the caller drops the dict (the standard localCheckpoint
        lifecycle); pass ``None`` (default) for the plain at-rest plan."""
        as_of = self._check_era(as_of)
        keys = self.key_cols
        attrs = [c for c in self.meta["columns"] if c not in keys]
        # fact extracts commonly carry their own SCD bookkeeping columns;
        # a silent ambiguous-reference failure (or worse, positional
        # mis-resolution in the final select) is the wrong way to find out
        clash = (set(facts.columns) - set(keys)) & (
            {"valid_from", "valid_to"} | set(attrs)
        )
        if clash:
            raise ValueError(
                f"Scd2Store.pit_join: facts columns {sorted(clash)} collide "
                f"with the store's validity/attribute columns — rename them "
                f"on the facts side first"
            )
        w = Window.partitionBy(*keys).orderBy("valid_from")
        valid_to = F.coalesce(
            F.lead("valid_from").over(w), F.lit(self.open_end)
        ).cast("bigint")
        era_ok = (F.col(era_col) >= F.col("valid_from")) & (
            F.col(era_col) < F.col("valid_to")
        )
        out_cols = facts.columns + attrs

        # tombstones stay in until AFTER the window computes valid_to
        # (they close the version they terminate), then leave the join
        live = ~F.col("_tombstone")

        base, layers = self._gen_pieces(as_of)
        if layers is None:
            hist = base.withColumn("valid_to", valid_to).where(live)
            return facts.join(hist, keys).where(era_ok).select(*out_cols)

        if era_cache is not None and era_cache.get("as_of") == as_of:
            touched, cold_hist, hot_hist = era_cache["pieces"]
        else:
            # materialized once: three subtrees reference it (two
            # broadcasts + the hot union's layer scan feeds it), and
            # re-running the layer scan + distinct per subtree would
            # triple the (small) layer work. localCheckpoint over persist:
            # registered queries can never unpersist after the driver
            # collects, and checkpoint RDDs are freed by the
            # ContextCleaner when the DataFrame drops.
            touched = (
                layers.select(*keys).distinct().localCheckpoint(eager=True)
            )
            cold_hist = (
                base.join(F.broadcast(touched), keys, "left_anti")
                .withColumn("valid_to", valid_to)
                .where(live)
            )
            hot_hist = (
                base.join(F.broadcast(touched), keys, "left_semi")
                .unionByName(layers)
                .withColumn("valid_to", valid_to)
                .where(live)
            )
            if era_cache is not None:
                # lazy checkpoints: the first batch's join materializes
                # them (no extra warm-up job), every later batch at this
                # era reuses the stored partitions instead of re-running
                # the window + anti/semi derivation over the full base.
                # LogicalRDD keeps the physical partitioning/ordering, so
                # the cold branch's no-Exchange property survives reuse.
                cold_hist = cold_hist.localCheckpoint(eager=False)
                hot_hist = hot_hist.localCheckpoint(eager=False)
                era_cache.clear()
                era_cache.update(
                    as_of=as_of, pieces=(touched, cold_hist, hot_hist)
                )
        cold = facts.join(cold_hist, keys).where(era_ok)
        hot = facts.join(F.broadcast(hot_hist), keys).where(era_ok)
        return cold.select(*out_cols).unionByName(hot.select(*out_cols))
