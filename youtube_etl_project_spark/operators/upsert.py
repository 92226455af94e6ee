"""Mutable-table semantics on plain Parquet (SURVEY §2a J2/J3/A7/S8/S9).

The reference's warehouse layer is MERGE upsert for dims
(src/snowflake_loader.py:86-104), insert-only MERGE for facts
(azure-functions/function_app.py:439-482), and DELETE+INSERT refresh for the
daily aggregate (src/snowflake_loader.py:135-156). Without Delta Lake in
this environment, those become join-rewrites plus an atomic
write-to-new-dir-then-swap table convention:

* ``merge_upsert``       — full-outer join, source-wins (J2)
* ``insert_only_merge``  — target ∪ (source ⟕anti target)  (J3)
* ``ParquetTable``       — versioned directory with atomic pointer swap,
                           giving per-write atomicity (the reference's
                           per-step commit/rollback, FA:294-365)
* ``overwrite_partitions`` — dynamic partition overwrite = replaceWhere (A7)

Scale notes: both merges shuffle on the merge keys once; when the target is
bucketed/pre-partitioned by key the join co-locates. Source-side dedup
(latest_per_key) runs *before* the merge so the wide join never sees
duplicate keys — same ordering the reference encodes (SL:82 before SL:86).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this write's snapshot and its
    pointer swap — this writer's version was discarded, the table holds
    the competitor's commit intact. Re-read and retry the write."""


def _presence(df: DataFrame) -> DataFrame:
    # Null-safe presence marker: join keys may legitimately be null-free,
    # but a literal flag keeps "row exists on this side" unambiguous.
    return df.withColumn("__present", F.lit(True))


def merge_upsert(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE ... WHEN MATCHED UPDATE, WHEN NOT MATCHED INSERT (source wins).

    Equivalent SQL: full outer join on keys; matched rows take every source
    column, unmatched keep the target row. Columns = union of both sides'
    columns (missing side → null).
    """
    t = _presence(target).alias("t")
    s = _presence(source).alias("s")
    cond = None
    for k in keys:
        c = F.col(f"s.{k}") == F.col(f"t.{k}")
        cond = c if cond is None else cond & c
    joined = s.join(t, cond, "full_outer")

    src_present = F.col("s.__present").isNotNull()
    out_cols = []
    tcols, scols = set(target.columns), set(source.columns)
    for c in dict.fromkeys(list(source.columns) + list(target.columns)):
        if c in scols and c in tcols:
            out_cols.append(
                F.when(src_present, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            )
        elif c in scols:
            out_cols.append(F.col(f"s.{c}").alias(c))
        else:
            out_cols.append(F.col(f"t.{c}").alias(c))
    return joined.select(*out_cols)


def insert_only_merge(
    target: DataFrame, source: DataFrame, keys: list[str]
) -> DataFrame:
    """MERGE with only WHEN NOT MATCHED THEN INSERT (FA:439-482): existing
    target rows are immutable; only new keys append. Source is deduped on
    the merge keys first (the reference's SELECT DISTINCT, FA:442)."""
    new_rows = source.dropDuplicates(keys).join(target, keys, "left_anti")
    return target.unionByName(new_rows.select(*target.columns))


def scd_upsert_dim(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Dimension upsert with SCD-lite bookkeeping (reference SL:86-104):
    matched → source attributes + target's first_seen + fresh last_updated;
    new → source attributes + today's first_seen."""
    merged = merge_upsert(
        target.withColumnRenamed("first_seen_date", "__t_first_seen"),
        source.withColumn("last_updated", F.current_timestamp()),
        keys,
    )
    return merged.withColumn(
        "first_seen_date",
        F.coalesce(F.col("__t_first_seen"), F.current_date()),
    ).drop("__t_first_seen")


# Per-version commit record: written schema + row count (see ParquetTable).
_COMMIT_RECORD = "_COMMIT.json"


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, array element and map value nullable."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


class ParquetTable:
    """Versioned parquet table with atomic pointer swap.

    Layout: ``<root>/v_<uuid>/`` data directories + ``<root>/_CURRENT`` text
    pointer + ``<root>/_LOG`` append-only commit log. Writes land in a fresh
    directory and the pointer flips last, so readers never observe partial
    data — the parquet stand-in for Delta's ACID commit (SURVEY §4
    transaction row; reference FA:294-365 semantics).

    Each version directory also holds ``_COMMIT.json``: the written schema
    and row count (Spark's file listing skips ``_`` files). ``read()``
    hands that schema to the reader, so opening a table launches no
    schema-inference job, and ``count()`` answers from the record with no
    scan. The row count comes from an ``Observation`` riding the write
    job itself. A version without the record (committed before it
    existed) is read with inference; the next write adds one.

    Concurrent writers are guarded Delta-OCC-style since round 5: the
    pointer swap is a compare-and-swap inside a lock-file critical
    section, so when two writers race, exactly one commits and the other
    gets ``ConcurrentWriteError`` with its version discarded and the
    table intact (see ``write()``; previously last-wins could silently
    drop a competitor's commit).

    ``keep_versions`` adds Delta-style time travel: the newest N committed
    versions survive (``history()``, ``read_version(n_back)``); older ones
    are pruned on write. The default 1 keeps only the current version —
    identical disk footprint to the un-versioned behavior. The log is
    appended AFTER the pointer swap, so every log entry is a real commit;
    the one crash window (between swap and append) leaves the current
    version unlisted, which ``history()`` repairs by treating the pointer
    as the newest commit. Tables written by older append-before-swap code
    (or with no ``_LOG`` at all) are also handled: entries after the
    pointer's entry are uncommitted orphans and are trimmed, and a pointer
    absent from the log is appended as the last known commit.
    """

    def __init__(self, spark: SparkSession, root: str, keep_versions: int = 1):
        self.spark = spark
        self.root = root
        self.keep_versions = max(1, keep_versions)
        os.makedirs(root, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    @property
    def _log(self) -> str:
        return os.path.join(self.root, "_LOG")

    # Commit-lock tuning: how long to wait for a competitor's in-flight
    # pointer swap (the critical section is milliseconds — file writes,
    # no data IO), and when to declare a leftover lock dead (a writer
    # that crashed INSIDE the critical section).
    lock_timeout_sec: float = 10.0
    lock_stale_sec: float = 60.0
    _lock_token: str | None = None

    @property
    def _lock(self) -> str:
        return os.path.join(self.root, "_LOCK")

    @contextlib.contextmanager
    def _commit_lock(self):
        """Mutual exclusion for the pointer CAS: O_CREAT|O_EXCL lock file
        holding this writer's unique token. A lock older than
        ``lock_stale_sec`` belongs to a writer that died mid-commit and is
        stolen; a live competitor's lock is waited on up to
        ``lock_timeout_sec`` (the guarded section never does data IO, so
        waits are milliseconds in practice).

        Two hazards closed here (round-5 advice): (1) the steal itself is
        an atomic ``os.rename`` to a unique graveyard name, so when two
        waiters both observe a stale lock exactly ONE wins the steal — a
        bare check-then-unlink let the loser remove the winner's fresh
        lock and put both writers inside the critical section. (2) the
        holder re-reads its own token before the pointer swap
        (``_lock_is_mine``), so a writer paused past ``lock_stale_sec``
        (GC, SIGSTOP) whose lock WAS legitimately stolen aborts with
        ``ConcurrentWriteError`` instead of double-committing."""
        deadline = time.monotonic() + self.lock_timeout_sec
        token = uuid.uuid4().hex
        while True:
            try:
                fd = os.open(self._lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                try:
                    os.write(fd, token.encode())
                finally:
                    os.close(fd)
                break
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(self._lock)
                except OSError:  # competitor released between tries
                    continue
                if age > self.lock_stale_sec:
                    # Atomic steal: exactly one waiter wins the rename of
                    # the dead lock; losers get FileNotFoundError and loop
                    # back to the O_EXCL create race above.
                    grave = f"{self._lock}.stolen.{uuid.uuid4().hex}"
                    with contextlib.suppress(OSError):
                        # Re-check staleness immediately before the rename
                        # (ADVICE r6): a competitor may have stolen AND
                        # re-created a FRESH lock since the age probe.
                        # rename has no compare-and-swap, so the residual
                        # window can't be closed — if a fresh lock still
                        # slips through, the live writer's token re-check
                        # in _commit degrades it to a clean
                        # ConcurrentWriteError abort, never a double
                        # commit (restoring the grave would be worse: it
                        # could clobber the NEXT writer's valid lock).
                        if (
                            time.time() - os.path.getmtime(self._lock)
                            <= self.lock_stale_sec
                        ):
                            continue
                        os.rename(self._lock, grave)
                        os.unlink(grave)
                    continue
                if time.monotonic() > deadline:
                    raise ConcurrentWriteError(
                        f"commit lock {self._lock} held for "
                        f"{age:.1f}s by another writer"
                    ) from None
                time.sleep(0.05)
        self._lock_token = token
        try:
            yield
        finally:
            self._lock_token = None
            # Release only OUR lock: if it was stolen while we were
            # paused, the current file belongs to the stealer.
            if self._lock_is_mine(token):
                with contextlib.suppress(OSError):
                    os.unlink(self._lock)

    def _lock_is_mine(self, token: str | None = None) -> bool:
        """True iff the lock file still exists and holds our token."""
        token = token if token is not None else self._lock_token
        if not token:
            return False
        try:
            with open(self._lock) as f:
                return f.read() == token
        except OSError:
            return False

    def exists(self) -> bool:
        return os.path.exists(self._pointer)

    def _pointer_version(self) -> str | None:
        if not self.exists():
            return None
        with open(self._pointer) as f:
            return f.read().strip()

    def current_path(self) -> str | None:
        v = self._pointer_version()
        return None if v is None else os.path.join(self.root, v)

    def _commit_record(self, path: str) -> dict | None:
        try:
            with open(os.path.join(path, _COMMIT_RECORD)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _read_path(self, path: str) -> DataFrame:
        rec = self._commit_record(path)
        reader = self.spark.read
        if rec is not None:
            reader = reader.schema(T.StructType.fromJson(rec["schema"]))
        return reader.parquet(path)

    def read(self) -> DataFrame:
        path = self.current_path()
        if path is None:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        return self._read_path(path)

    def count(self) -> int:
        """Rows in the current version: the count its write observed, or a
        scan for a version committed without a commit record."""
        path = self.current_path()
        rec = None if path is None else self._commit_record(path)
        return rec["rows"] if rec is not None else self.read().count()

    def write(self, df: DataFrame) -> int:
        """Commit ``df`` as the new current version, replacing the table's
        contents; return its row count, observed on the write job (no
        second scan).

        Concurrent-writer guard (optimistic concurrency, Delta-OCC
        style): the pointer value is snapshotted HERE, before the data
        write, and the commit succeeds only if the pointer is unchanged
        at swap time — checked and swapped inside the ``_LOCK`` critical
        section, so two interleaved writers can never both swap. The
        loser's data directory is removed and ``ConcurrentWriteError``
        raised (re-read + retry is the caller's move — blind last-wins
        would silently drop the competitor's commit, which for
        read-modify-write verbs like delete_where means losing its
        changes entirely).
        """
        # Snapshot pointer + history BEFORE the data write: the CAS base,
        # and (for retention) a pre-_LOG current version only reachable
        # through the pointer fallback.
        base = self._pointer_version()
        prior = self.history()
        version = f"v_{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.root, version)
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "errorifexists"
        ).parquet(out)
        rows = int(obs.get["rows"])
        # The schema as a parquet read reports it: every field nullable.
        record = {"schema": _nullable(df.schema).jsonValue(), "rows": rows}
        with open(os.path.join(out, _COMMIT_RECORD), "w") as f:
            json.dump(record, f)
        self._commit(version, base, prior)
        return rows

    def _commit(
        self,
        version: str,
        base: str | None,
        prior: list[str],
        force: bool = False,
    ) -> None:
        """Swap the pointer to ``version`` iff it still reads ``base``."""
        with self._commit_lock():
            now = self._pointer_version()
            if not force and now != base:
                shutil.rmtree(
                    os.path.join(self.root, version), ignore_errors=True
                )
                raise ConcurrentWriteError(
                    f"table {self.root} advanced {base!r} -> {now!r} "
                    "during this write; this version was discarded"
                )
            if force and now != base:
                # A competitor committed between our pre-write snapshot
                # and this forced overwrite: re-read history UNDER the
                # lock so the superseded competitor version joins the
                # retention sweep below (the stale ``prior`` predates it
                # and would leak its data directory forever).
                prior = self.history()
            if not self._lock_is_mine():
                # We were paused long enough for a waiter to declare this
                # lock stale and steal it — the critical section is no
                # longer ours, so committing now could interleave with
                # the stealer's swap (lost update). Abort cleanly.
                shutil.rmtree(
                    os.path.join(self.root, version), ignore_errors=True
                )
                raise ConcurrentWriteError(
                    f"commit lock for {self.root} was stolen while this "
                    "writer was stalled; this version was discarded"
                )
            tmp = self._pointer + ".tmp"
            with open(tmp, "w") as f:
                f.write(version)
            os.replace(tmp, self._pointer)  # atomic commit
            # Log after the swap: every logged entry is a real commit (a
            # crash right here leaves the commit unlisted; history()
            # repairs that from the pointer).
            with open(self._log, "a") as f:
                f.write(version + "\n")
        # Retention: drop committed versions beyond the keep window.
        for stale in ([version] + prior)[self.keep_versions:]:
            p = os.path.join(self.root, stale)
            if os.path.exists(p):
                shutil.rmtree(p, ignore_errors=True)

    def history(self) -> list[str]:
        """Committed version names, newest first, pruned versions excluded.

        The log may end with orphans (crash after log append, before
        pointer swap); everything after the current pointer's entry is
        uncommitted and excluded.
        """
        cur = self.current_path()
        if cur is None:
            return []
        cur_name = os.path.basename(cur)
        entries: list[str] = []
        if os.path.exists(self._log):
            with open(self._log) as f:
                entries = [ln.strip() for ln in f if ln.strip()]
        if cur_name in entries:
            # entries after the pointer's version are uncommitted orphans
            # (pre-swap-then-log writers crashed mid-commit) — trim
            entries = entries[: entries.index(cur_name) + 1]
        else:
            # pointer committed but unlisted: a pre-_LOG table, or a crash
            # between the pointer swap and the log append — the pointer is
            # the newest known commit; logged predecessors stay as history
            entries = entries + [cur_name]
        return [
            v
            for v in reversed(entries)
            if os.path.isdir(os.path.join(self.root, v))
        ]

    def read_version(self, n_back: int = 0) -> DataFrame:
        """Time travel: ``n_back=0`` is the current commit, 1 the previous,
        … up to ``keep_versions - 1`` (older versions are pruned)."""
        hist = self.history()
        if n_back >= len(hist):
            raise ValueError(
                f"version {n_back} back not retained "
                f"(history depth {len(hist)}, keep_versions={self.keep_versions})"
            )
        return self._read_path(os.path.join(self.root, hist[n_back]))

    def truncate(self) -> None:
        """S9: TRUNCATE TABLE — commit an empty version preserving schema.

        The empty version is a directory holding only a commit record
        with the current version's schema and ``rows: 0``, so no Spark
        job runs: ``read()`` hands that schema to a reader that finds no
        data files. A current version without a record (written before
        records existed) takes its schema from one inference read."""
        base = self._pointer_version()
        if base is None:
            return
        rec = self._commit_record(os.path.join(self.root, base))
        schema = (
            rec["schema"] if rec else _nullable(self.read().schema).jsonValue()
        )
        prior = self.history()
        version = f"v_{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.root, version)
        os.makedirs(out)
        with open(os.path.join(out, _COMMIT_RECORD), "w") as f:
            json.dump({"schema": schema, "rows": 0}, f)
        self._commit(version, base, prior)

    def delete_where(self, condition) -> int:
        """DELETE FROM table WHERE condition — the GDPR/right-to-erasure
        verb: commits a new version without the matching rows and returns
        how many were removed. Copy-on-write like Delta without deletion
        vectors: the surviving rows rewrite into a fresh directory and the
        pointer flips atomically, so concurrent readers keep a consistent
        pre-delete snapshot and time travel (``keep_versions``) still
        works — note retention then keeps the deleted rows on disk until
        the version ages out, which a compliance deployment bounds by
        vacuum cadence. ``condition`` is a Column or SQL string."""
        import pyspark.sql.functions as _F

        cond = _F.expr(condition) if isinstance(condition, str) else condition
        cur = self.read()
        n_before = cur.count()
        # NULL predicate must keep the row (SQL DELETE deletes TRUE only;
        # a bare ~cond would silently drop the NULLs too)
        survivors = cur.filter(~_F.coalesce(cond, _F.lit(False)))
        n_after = survivors.count()
        if n_after != n_before:
            self.write(survivors)
        return n_before - n_after

    def vacuum(self) -> None:
        """GC stale version directories: anything but the committed version.

        A writer that dies between the data write and the pointer swap
        leaves a complete-but-uncommitted ``v_*`` directory — invisible to
        readers (the pointer never moved: crash-safety proven by
        ``tests/test_upsert.py::test_crash_between_write_and_swap``), but
        leaking disk. Single-writer assumption as documented for write();
        call between loads, never concurrently with one.
        """
        retained = {
            os.path.join(self.root, v)
            for v in self.history()[: self.keep_versions]
        }
        cur = self.current_path()
        if cur:
            retained.add(cur)
        for name in os.listdir(self.root):
            p = os.path.join(self.root, name)
            if name.startswith("v_") and os.path.isdir(p) and p not in retained:
                shutil.rmtree(p, ignore_errors=True)


def overwrite_partitions(
    table: ParquetTable, df: DataFrame, partition_col: str, values
) -> int:
    """A7: replaceWhere-style refresh — replace the partitions whose
    ``partition_col`` is in ``values`` (one value or a list) with ``df``
    and keep the rest: the reference's ``DELETE … WHERE analysis_date =
    today`` + INSERT (SL:136-155), made atomic by the version swap. Rows
    whose partition value is NULL are never replaced. ``df`` must hold
    rows of the named partitions only; like Delta's replaceWhere, the
    write fails on any other row. Returns the committed row count."""
    values = list(values) if isinstance(values, (list, tuple, set)) else [values]
    key = F.col(partition_col)
    fresh = df.withColumn(
        partition_col,
        F.when(key.isin(values), key).otherwise(
            F.raise_error(f"row outside the replaced {partition_col} partitions")
        ),
    )
    if not table.exists():
        return table.write(fresh)
    current = table.read()
    kept = current.filter(key.isNull() | ~key.isin(values))
    return table.write(kept.unionByName(fresh.select(*current.columns)))


def scd2_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    attrs: list[str],
    effective: str,
) -> DataFrame:
    """Type-2 slowly-changing-dimension MERGE: history-preserving upsert.

    ``target`` carries row versions (``valid_from``, ``valid_to`` with NULL
    valid_to = current); ``source`` carries one row per key with an
    ``effective`` date column. Semantics (the standard warehouse SCD2
    contract, generalizing the reference's SCD-lite dim merge SL:86-104):

    * current row whose ``attrs`` differ from the source → closed
      (``valid_to`` = effective date) AND a new current version inserted;
    * current row with identical ``attrs`` → untouched (idempotent);
    * key only in source → new current version (``valid_from`` = effective);
    * closed history rows → passed through untouched, never re-joined.

    Plan shape: history splits off by a ``valid_to IS NULL`` filter (no
    join); current rows full-outer join the key-deduped source ONCE on the
    keys — the only shuffle; attribute comparison is a null-safe struct
    equality (``eqNullSafe``), so NULL attr values compare stably. Source
    must be pre-deduped to one row per key (use latest_per_key first),
    matching the ordering contract of ``merge_upsert``.
    """
    current = target.filter(F.col("valid_to").isNull())
    history = target.filter(F.col("valid_to").isNotNull())

    t = current.alias("t")
    s = source.alias("s")
    cond = None
    for k in keys:
        c = F.col(f"s.{k}") == F.col(f"t.{k}")
        cond = c if cond is None else cond & c
    joined = t.join(s, cond, "full_outer")
    t_here = F.col(f"t.{keys[0]}").isNotNull()
    s_here = F.col(f"s.{keys[0]}").isNotNull()
    changed = ~F.struct(*[F.col(f"t.{a}") for a in attrs]).eqNullSafe(
        F.struct(*[F.col(f"s.{a}") for a in attrs])
    )

    out_cols = list(dict.fromkeys(keys + attrs + ["valid_from", "valid_to"]))

    # 1. surviving current rows: unchanged-matched or source-absent
    keep = joined.filter(t_here & (~s_here | ~changed)).select(
        *[F.col(f"t.{c}").alias(c) for c in out_cols]
    )
    # 2. closed-out versions of changed rows
    closed = joined.filter(t_here & s_here & changed).select(
        *[F.col(f"t.{k}").alias(k) for k in keys],
        *[F.col(f"t.{a}").alias(a) for a in attrs],
        F.col("t.valid_from").alias("valid_from"),
        F.col(f"s.{effective}").cast("date").alias("valid_to"),
    ).select(*out_cols)
    # 3. fresh current versions: changed keys + brand-new keys
    fresh = joined.filter(s_here & (~t_here | changed)).select(
        *[F.col(f"s.{k}").alias(k) for k in keys],
        *[F.col(f"s.{a}").alias(a) for a in attrs],
        F.col(f"s.{effective}").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    ).select(*out_cols)

    return (
        history.select(*out_cols)
        .unionByName(keep)
        .unionByName(closed)
        .unionByName(fresh)
    )
