"""Optimistic concurrency control for the on-disk stores, and the store
core both of them build on.

Both stores (``PreserveStore``, ``Scd2Store``) commit every mutation
through ONE atomic meta-file replace. OCC adds the lakehouse-style
compare step at that commit point (Delta/Iceberg optimistic commit
discipline): each mutation captures the store's on-disk commit sequence
number when it BEGINS, and the commit re-reads the file and fails loudly
with ``ConcurrentWriteError`` if another writer advanced it in between —
so of two concurrent writers exactly one wins and the loser gets a
deterministic error instead of silently clobbering the winner's era /
version.

- **The compare+replace pair is atomic on POSIX filesystems**: the
  whole commit (re-read → compare → stamp → write → replace) runs under
  an ``flock`` on a per-store lock file, taken on a FRESH file
  descriptor per commit so it excludes both other processes AND other
  threads of the same process (BSD ``flock`` locks belong to the open
  file description, not the process — unlike POSIX ``lockf`` record
  locks, which a sibling thread would sail through). Losers still get
  the same deterministic ``ConcurrentWriteError``; the lock only closes
  the microsecond compare-vs-replace window, it never turns OCC into
  pessimistic waiting (it is held for one JSON read + one rename). On an
  object store without ``flock`` semantics the sequence-number protocol
  maps to conditional-put (ETag / if-match), which makes the same
  compare atomic server-side.
- **The tmp file is unique per writer** (``meta.json.tmp.<pid>.<token>``)
  so a racing loser can never publish or corrupt the winner's
  half-written bytes through a shared tmp path — even on filesystems
  where the advisory lock is not honored.

``retrying`` is the ergonomics half of the contract: a
``ConcurrentWriteError`` loser whose mutation carries an idempotence
token can always just re-run the mutation against fresh state (if the
first attempt actually committed, the token dedupe turns the replay
into a no-op), so the streaming sinks — the realistic multi-writer
collision point (a CDC stream racing a manual backfill) — wrap their
store commits in it.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import itertools
import json
import os
import re
import shutil

try:
    import fcntl

    _HAVE_FLOCK = True
except ImportError:  # non-POSIX: fall back to compare-then-replace
    _HAVE_FLOCK = False

# process-unique suffix counter for tmp names (pid alone is not enough:
# two THREADS of one process share the pid)
_TMP_COUNTER = itertools.count()

# .stage-* directories younger than this are assumed to belong to an
# IN-FLIGHT mutation and are never reclaimed by the stores' orphan sweep
# (the standard lakehouse vacuum-retention discipline): under the
# retrying multi-writer pattern a vacuum can run while another writer is
# mid-stage, and deleting its live staging would kill a commit that was
# about to succeed. Crashed attempts age past the window and get swept.
# This module constant is the DEFAULT; both stores take a
# ``stage_retention_sec`` constructor parameter that overrides it per
# store — a store whose mutations stage for longer than an hour needs a
# wider window, and tests/ops may want fast reclamation — threaded into
# every ``stage_is_young`` / ``commit_meta`` call.
STAGE_RETENTION_SEC = 3600


@contextlib.contextmanager
def store_lock(store_dir: str):
    """The store's commit lock (fresh fd per acquisition — see
    ``commit_meta``). ``commit_meta`` takes it for every commit; the
    orphan sweeps take it so they read a meta no commit can be moving
    under them. No-op where ``flock`` is unavailable."""
    os.makedirs(store_dir, exist_ok=True)
    if not _HAVE_FLOCK:
        yield
        return
    fd = os.open(
        os.path.join(store_dir, ".meta.lock"), os.O_CREAT | os.O_RDWR
    )
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


class ConcurrentWriteError(RuntimeError):
    """Another writer committed to the store between this operation's
    begin and its commit. The store on disk is consistent (the other
    writer's commit is intact; this operation's data files are invisible
    orphans) — re-open the store and retry on fresh state (or wrap the
    mutation in ``occ.retrying``; with an idempotence token the retry is
    provably safe)."""


def disk_seq(meta_path: str) -> int | None:
    """The committed commit sequence on disk; ``None`` if the store does
    not exist yet. A meta written before commit sequences existed reads
    as 0."""
    if not os.path.isfile(meta_path):
        return None
    with open(meta_path) as f:
        return int(json.load(f).get("commit_seq", 0))


def commit_meta(
    meta: dict,
    meta_path: str,
    expect: int | None,
    op: str,
    publish=None,
    retention_sec: float | None = None,
) -> int:
    """The atomic commit: under the store's ``flock`` (where available),
    re-read the on-disk sequence, fail loudly if it moved since
    ``expect`` was captured, else run ``publish()`` (the data-file
    rename step — see below), stamp ``meta`` with the next sequence
    number, and publish the meta via a unique-tmp ``os.replace``.
    Returns the new committed sequence.

    ``publish`` is how mutations move their staged data directories
    into their final era/version-numbered locations ATOMICALLY WITH the
    commit: the mutation's Spark writes target a unique staging path
    (outside the lock — that is where the seconds of work happen), and
    the O(1) renames into the final path run here, after the compare has
    proven the begin-state is still current. Without this, a loser whose
    data write lands AFTER the winner's commit would clobber the
    winner's same-numbered era directory — the files are only
    "invisible orphans" if they can never land on a committed name.
    Ordering within the critical section: compare → publish data → meta
    replace; a crash between publish and the meta replace leaves final-
    positioned but UNCOMMITTED directories, which readers never follow
    (they read only era numbers ≤ the committed meta's) and the retried
    mutation republishes over. On an object store the same protocol is
    "stage under unique keys, conditional-put the manifest" — Delta/
    Iceberg's actual commit discipline."""
    store_dir = os.path.dirname(meta_path)
    # fresh fd per commit (inside store_lock): flock is per-open-file-
    # description, so this excludes sibling threads as well as processes
    with store_lock(store_dir):
        disk = disk_seq(meta_path)
        if disk != expect:
            raise ConcurrentWriteError(
                f"{op}: store at {store_dir!r} advanced from commit_seq "
                f"{expect} to {disk} since this operation began — a "
                f"concurrent writer committed first (single-writer "
                f"contract); re-open the store and retry against its "
                f"current state"
            )
        if publish is not None:
            publish()
        meta["commit_seq"] = (expect or 0) + 1
        # stale tmps from commits that died between dump and replace are
        # reclaimed here rather than leaking one file per crash — but only
        # past the retention window: under flock a live writer would hold
        # this lock, yet on the NO-flock fallback a concurrent writer's
        # freshly-dumped tmp is indistinguishable from residue by name
        # alone, and unlinking it would turn its loss into a
        # FileNotFoundError that occ.retrying does not catch. The glob is
        # '.tmp*', not '.tmp.*', so the bare 'meta.json.tmp' an older,
        # shared-tmp writer left behind is reclaimed too once aged.
        for stale in glob.glob(f"{meta_path}.tmp*"):
            if stage_is_young(stale, retention_sec):
                continue
            try:
                os.unlink(stale)
            except OSError:
                pass
        # unique per-writer tmp: a loser that raced past a (missing/
        # unhonored) lock can clobber only its OWN tmp, never the bytes
        # the winner is about to publish
        tmp = (
            f"{meta_path}.tmp.{os.getpid()}.{next(_TMP_COUNTER)}"
        )
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, meta_path)
        return int(meta["commit_seq"])


def stage_is_young(path: str, retention_sec: float | None = None) -> bool:
    """True if a staged artifact (``.stage-*`` directory or ``meta
    tmp`` file) is inside the retention window — possibly a LIVE
    in-flight write; sweeps and the commit's tmp reclamation must keep
    it. Uses the mtime (refreshed by the writes landing in it); a
    missing path counts as not-young. ``retention_sec`` overrides the
    module default (the stores thread their ``stage_retention_sec``
    constructor parameter through here)."""
    import time

    if retention_sec is None:
        retention_sec = STAGE_RETENTION_SEC
    try:
        return (time.time() - os.path.getmtime(path)) < retention_sec
    except OSError:
        return False


def retention_clock(path: str, retain_sec: float) -> bool:
    """VACUUM RETAIN age check for an unreferenced-but-retained artifact
    directory: may THIS retaining sweep reclaim it?

    Age must be measured from RETIREMENT (when the artifact became
    unreferenced), not from the directory mtime — a generation written
    hours ago but retired one second ago would otherwise be reclaimed
    instantly, defeating the in-flight-reader protection.
    Delta measures RETAIN from the remove-action timestamp in the log;
    the filesystem analogue here is a ``.retired-at`` marker file the
    FIRST retaining sweep drops inside the directory (hidden dot-file —
    parquet scans ignore it): the clock starts at first sight, and the
    artifact is reclaimable once the marker is older than the window.
    With ``retain_sec`` 0/None the artifact is immediately reclaimable
    (the quiesced-caller contract) and no marker is written."""
    import time

    if not retain_sec:
        return True
    marker = os.path.join(path, ".retired-at")
    try:
        if not os.path.exists(marker):
            with open(marker, "w"):
                pass  # first sight: start the retirement clock
            return False
        return (time.time() - os.path.getmtime(marker)) >= retain_sec
    except OSError:
        # unreadable/racing artifact: keep it this pass — a later sweep
        # re-derives the same answer from disk
        return False


def final_is_sweepable(path: str, retention_sec: float | None = None) -> bool:
    """May an orphan sweep reclaim an UNREFERENCED but FINAL-POSITIONED
    directory (an era/version/generation name the committed meta does not
    reference) at ``path``?

    Under ``flock`` the answer is always yes: the sweep holds the store
    lock, the publish→meta-replace pair runs entirely inside the same
    lock (``commit_meta``), so an unreferenced final directory can only
    be crash residue — no live writer can be between its publish and its
    meta commit while the sweep runs. WITHOUT ``flock`` (non-POSIX
    fallback) that window is open: a concurrent writer may have just
    published its staged data onto the final name and not yet replaced
    meta, and sweeping the directory would let its commit land
    referencing deleted files — committed data loss, not a leak. So on
    the no-flock path the stage retention window applies to final-
    positioned orphans too: only aged residue is reclaimed."""
    if _HAVE_FLOCK:
        return True
    return not stage_is_young(path, retention_sec)


def stage_name(tag: str) -> str:
    """Unique staging directory name for one mutation attempt's data
    files (pid + a process-wide counter: unique across processes AND
    across threads of one process). Staged directories are invisible to
    every reader — readers only follow committed era/version numbers —
    and are reclaimed by the stores' ``_sweep_orphans``."""
    return f".stage-{tag}-{os.getpid()}-{next(_TMP_COUNTER)}"


def publish_dir(staging: str, final: str) -> None:
    """Move a staged directory onto its final (committed) name — the
    O(1) rename step run inside ``commit_meta``'s critical section.
    Anything already at the final name is an orphan (a crash between a
    previous publish and its meta replace, or a crashed write that
    targeted the final name directly): it was never committed — committed
    era numbers are never re-targeted, the compare just proved this
    mutation's begin-state is current — so removing it first is
    reclamation, not data loss."""
    if os.path.exists(final):
        shutil.rmtree(final)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    os.replace(staging, final)


def retrying(fn, *, attempts: int = 3, backoff_sec: float = 0.0):
    """Run ``fn()`` and, on ``ConcurrentWriteError``, re-run it against
    fresh state up to ``attempts`` total tries (the store mutations call
    ``_occ_begin`` themselves, so a plain re-invocation re-reads the
    winner's committed meta). Safe whenever the mutation is idempotent
    under replay — which every token-carrying store commit is: if the
    losing attempt actually committed before the error surfaced (it
    cannot, but a caller-level crash-retry might), the token dedupe
    returns the committed version instead of double-applying. The last
    failure propagates.

    ``backoff_sec`` sleeps ``attempt_index * backoff_sec`` between tries
    (deterministic linear backoff): under sustained contention an
    immediate re-stage tends to re-collide with the same fast writer, so
    callers that must not die on transient contention (the streaming
    sinks) pass a small backoff and a generous attempt budget."""
    import time

    last: ConcurrentWriteError | None = None
    for i in range(max(1, attempts)):
        if i and backoff_sec:
            time.sleep(i * backoff_sec)
        try:
            return fn()
        except ConcurrentWriteError as e:
            last = e
    raise last


class StoreCore:
    """What ``PreserveStore`` and ``Scd2Store`` share: the meta file, the
    OCC commit, idempotence tokens, catalog registration of bucketed
    generations, the staged bucketed write and the orphan sweep. A store
    subclass keeps its meta fields, its layer layout, its read path and
    its mutations, and names its catalog prefix (``_TABLE_PREFIX``), its
    bucket-key meta field (``_KEYS``), its token meta field (``_TOKENS``)
    and the directories its committed meta still references
    (``_orphan_tables``).

    CONCURRENCY CONTRACT: single writer, many readers, enforced
    optimistically. Every mutation begins with ``_occ_begin()``, which
    drops the cached meta and captures the on-disk commit sequence. Its
    Spark writes target a unique ``.stage-*`` directory (``_staged``,
    which removes it if the mutation raises), outside any lock. It ends with ONE ``_write_meta`` commit: under the
    store's ``flock`` the sequence is compared, the staged directories
    are renamed onto their final era/version names (``publish``) and the
    meta is replaced (``commit_meta``). Of two concurrent writers
    exactly one wins; the loser raises ``ConcurrentWriteError`` with the
    store unharmed, since its staged data can never land on a committed
    name. A crash before the commit leaves ``exists()`` / the previous
    version intact and only an invisible ``.stage-*`` orphan. Readers
    never block and never observe partial commits: they follow only
    committed meta.

    IDEMPOTENCE: a token-carrying mutation records its token in the SAME
    meta write as its version bump, so a replay with a seen token
    (``_seen_token``) returns the committed version instead of applying
    twice — safe under ``occ.retrying`` and at-least-once callers. Only
    the tokens of the last ``_TOKEN_KEEP`` versions are kept
    (``_record_token``): replays only ever target the most recent
    uncommitted batch, and an unpruned map would make every commit
    rewrite an O(total-commits) ``meta.json``.

    VACUUM: commit first, delete after. The OCC compare precedes every
    irreversible delete, so a vacuum that loses a race deletes nothing.
    The delete phase is ``_sweep_orphans``, a disk-scan of everything
    the committed meta no longer references, so a crash between the
    commit and the deletes is healed by the next sweep. The sweep runs
    under the commit lock on a fresh meta read (a concurrent commit's
    just-published directories are never mistaken for orphans).
    ``.stage-*`` directories are reclaimed only past the stage retention
    window (``stage_retention_sec``, default ``STAGE_RETENTION_SEC``):
    inside it they may be an in-flight mutation's live staging.
    Unreferenced generations wait for ``retain_sec`` from retirement
    (``retention_clock``, the Delta ``VACUUM … RETAIN`` discipline) so
    readers holding plans over them keep their files; 0 reclaims
    immediately (the quiesced-caller contract)."""

    _META = "meta.json"
    _TOKEN_KEEP = 8
    _TABLE_PREFIX: str
    _KEYS: str
    _TOKENS: str

    def __init__(self, spark, path: str, stage_retention_sec: float | None = None):
        self.spark = spark
        self.path = os.path.abspath(path)
        self._meta: dict | None = None
        # None → STAGE_RETENTION_SEC
        self.stage_retention_sec = stage_retention_sec

    @staticmethod
    def _schema_ddl(df) -> str:
        return ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
        )

    # -- metadata and commit -------------------------------------------

    def exists(self) -> bool:
        return os.path.isfile(self._meta_path())

    @property
    def meta(self) -> dict:
        if self._meta is None:
            with open(self._meta_path()) as f:
                self._meta = json.load(f)
        return self._meta

    def _meta_path(self) -> str:
        return os.path.join(self.path, self._META)

    def _occ_begin(self) -> int | None:
        """Begin a mutation: read the committed state afresh and return
        the commit sequence the commit is validated against."""
        self._meta = None
        return disk_seq(self._meta_path())

    def _write_meta(self, meta: dict, *, expect: int | None, op: str, publish=None) -> int:
        """The mutation's commit (``commit_meta``); returns the new commit
        sequence."""
        seq = commit_meta(
            meta, self._meta_path(), expect, op, publish, retention_sec=self.stage_retention_sec
        )
        self._meta = meta
        return seq

    @contextlib.contextmanager
    def _staged(self, tag: str, parent: str | None = None):
        """A unique staging directory for one mutation attempt, under
        ``parent`` (default: the store root). If the block raises, the
        staging is removed and any uncommitted meta dropped, so later
        reads see the committed state."""
        staging = os.path.join(parent or self.path, stage_name(tag))
        try:
            yield staging
        except BaseException:
            self._meta = None
            shutil.rmtree(staging, ignore_errors=True)
            raise

    # -- idempotence tokens ---------------------------------------------

    def _seen_token(self, token: str | None) -> int | None:
        """The version a replayed ``token`` committed, else None."""
        seen = self.meta.get(self._TOKENS, {})
        return int(seen[token]) if token in seen else None

    def _record_token(self, meta: dict, token: str | None, version: int) -> None:
        """Record ``token`` at ``version`` in ``meta``, keeping only the
        tokens of the last ``_TOKEN_KEEP`` versions."""
        if token is None:
            return
        tokens = {
            t: v
            for t, v in meta.get(self._TOKENS, {}).items()
            if int(v) > version - self._TOKEN_KEEP
        }
        tokens[token] = version
        meta[self._TOKENS] = tokens

    # -- bucketed generations -------------------------------------------

    def _catalog_name(self, suffix: str) -> str:
        # catalog-safe and stable per store path, so re-registration is
        # idempotent; the slug alone is not injective across paths
        # (/tmp/a-b vs /tmp/a_b, case-differing paths), so a short hash of
        # the raw path keeps distinct stores in distinct catalog entries
        slug = re.sub(r"[^0-9a-zA-Z]+", "_", self.path).strip("_").lower()
        tag = hashlib.md5(self.path.encode()).hexdigest()[:8]
        return f"{self._TABLE_PREFIX}_{slug}_{tag}_{suffix}"

    def _drop_tables(self, *names: str) -> None:
        for name in names:
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")

    def _bucketed_table(self, name: str, ddl: str, location: str):
        """The bucketed generation at ``location`` as a bucketed scan. The
        bucketing spec lives in the catalog, not the files, so a session
        that has never seen the table registers it from committed meta."""
        if not self.spark.catalog.tableExists(name):
            m = self.meta
            keys = ", ".join(f"`{k}`" for k in m[self._KEYS])
            self.spark.sql(
                f"CREATE TABLE {name} ({ddl}) USING PARQUET"
                f" CLUSTERED BY ({keys}) SORTED BY ({keys})"
                f" INTO {m['num_buckets']} BUCKETS"
                f" LOCATION '{location}'"
            )
        return self.spark.table(name)

    def _stage_bucketed(self, df, staging: str, table: str, meta: dict) -> str:
        """Bucketed, key-sorted write of ``df`` into ``staging``, bucketed
        as ``meta`` says. ``bucketBy`` requires ``saveAsTable``, so the
        write goes through a throwaway catalog name derived from
        ``table`` and pointed at the staging path, dropped at once: the
        commit renames the directory into place and ``_bucketed_table``
        registers it lazily from committed meta."""
        n, keys = int(meta["num_buckets"]), meta[self._KEYS]
        stage_tbl = f"{table}_stg{hashlib.md5(staging.encode()).hexdigest()[:8]}"
        try:
            (
                df.repartition(n, *keys)
                .write.format("parquet")
                .mode("overwrite")
                .bucketBy(n, *keys)
                .sortBy(*keys)
                .option("path", staging)
                .saveAsTable(stage_tbl)
            )
        finally:
            self._drop_tables(stage_tbl)
        return staging

    # -- orphan sweep ----------------------------------------------------

    def _orphan_tables(self, rel: str) -> list[str] | None:
        """For the directory ``rel`` (relative to the store root, one or
        two levels deep): None if the sweep must keep it (the committed
        meta references it, or it is no generation directory), else the
        catalog names registered over it, dropped with it."""
        raise NotImplementedError

    def _sweep_orphans(self, retain_sec: float = 0.0) -> None:
        """Reclaim what the committed meta does not reference: aged
        ``.stage-*`` directories at the root, under ``layers/`` and one
        level below it, and the generations ``_orphan_tables`` names, once
        ``retain_sec`` has passed since their retirement. Orphans are
        invisible to every reader, so deleting them needs no commit."""
        ret = self.stage_retention_sec

        def sweep(d: str, rel: str | None) -> list[str]:
            # sweeps the children of d (only its .stage-* ones when rel is
            # None) and returns the directories it kept
            kept = []
            for name in os.listdir(d) if os.path.isdir(d) else []:
                p = os.path.join(d, name)
                if name.startswith(".stage-"):
                    if not stage_is_young(p, ret):
                        shutil.rmtree(p, ignore_errors=True)
                    continue
                tables = None if rel is None else self._orphan_tables(rel + name)
                if tables is not None and retention_clock(p, retain_sec):
                    self._drop_tables(*tables)
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    kept.append(p)
            return kept

        with store_lock(self.path):
            self._meta = None  # the committed meta as of THIS lock hold
            sweep(self.path, "")
            for d in sweep(os.path.join(self.path, "layers"), "layers/"):
                sweep(d, None)
