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
import re
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
# Committed version names: zero-padded so they sort in commit order.
_VERSION = re.compile(r"v_\d{12}")


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

    Layout: numbered version directories ``<root>/v_<n>/`` (``n`` padded to
    12 digits, so names sort in commit order) and a text pointer
    ``<root>/_CURRENT`` naming the newest one. A version is committed
    exactly when its name is ≤ the pointer's. A write stages its data in
    ``<root>/_tmp_<uuid>/``, renames it to the next number and flips the
    pointer last, so readers never observe partial data — the parquet
    stand-in for Delta's ACID commit (SURVEY §4 transaction row;
    reference FA:294-365 semantics).

    Each version directory also holds ``_COMMIT.json``: the written schema
    and row count (Spark's file listing skips ``_`` files). ``read()``
    hands that schema to the reader, so opening a table launches no
    schema-inference job, and ``count()`` answers from the record with no
    scan. The row count comes from an ``Observation`` riding the write
    job itself.

    Concurrent writers are guarded Delta-OCC-style: the pointer swap is a
    compare-and-swap inside a lock-file critical section, so when two
    writers race, exactly one commits and the other gets
    ``ConcurrentWriteError`` with its version discarded and the table
    intact (see ``write()``).

    ``keep_versions`` adds Delta-style time travel: the newest N committed
    versions survive (``history()``, ``read_version(n_back)``); older ones
    are pruned on write. The default 1 keeps only the current version.
    A commit that crashes between its rename and its pointer swap leaves
    a directory numbered above the pointer: never listed, and replaced by
    the next commit.
    """

    def __init__(self, spark: SparkSession, root: str, keep_versions: int = 1):
        self.spark = spark
        self.root = root
        self.keep_versions = max(1, keep_versions)
        os.makedirs(root, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_CURRENT")

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
            version = f.read().strip()
        if not _VERSION.fullmatch(version):
            raise ValueError(
                f"table {self.root} points at {version!r}, not a numbered "
                "version: it was written in an older layout; rewrite it"
            )
        return version

    def current_path(self) -> str | None:
        v = self._pointer_version()
        return None if v is None else os.path.join(self.root, v)

    def _current(self) -> str:
        path = self.current_path()
        if path is None:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        return path

    @staticmethod
    def _commit_record(path: str) -> dict:
        with open(os.path.join(path, _COMMIT_RECORD)) as f:
            return json.load(f)

    def _read_path(self, path: str) -> DataFrame:
        schema = T.StructType.fromJson(self._commit_record(path)["schema"])
        return self.spark.read.schema(schema).parquet(path)

    def read(self) -> DataFrame:
        return self._read_path(self._current())

    def count(self) -> int:
        """Rows in the current version, as its write observed them."""
        return self._commit_record(self._current())["rows"]

    def _staging(self) -> str:
        return os.path.join(self.root, f"_tmp_{uuid.uuid4().hex}")

    def write(self, df: DataFrame) -> None:
        """Commit ``df`` as the new current version, replacing the table's
        contents. Its row count is observed on the write job (no second
        scan) and recorded for ``count()``.

        Concurrent-writer guard (optimistic concurrency, Delta-OCC
        style): the pointer value is snapshotted HERE, before the data
        write, and the commit succeeds only if the pointer is unchanged
        at swap time — checked and swapped inside the ``_LOCK`` critical
        section, so two interleaved writers can never both swap. The
        loser's staged data is removed and ``ConcurrentWriteError``
        raised (re-read + retry is the caller's move — blind last-wins
        would silently drop the competitor's commit, which for
        read-modify-write verbs like a merge means losing its changes
        entirely).
        """
        base = self._pointer_version()
        staged = self._staging()
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "errorifexists"
        ).parquet(staged)
        # The schema as a parquet read reports it: every field nullable.
        record = {"schema": _nullable(df.schema).jsonValue(),
                  "rows": int(obs.get["rows"])}
        with open(os.path.join(staged, _COMMIT_RECORD), "w") as f:
            json.dump(record, f)
        self._commit(staged, base)

    def _commit_empty(self, schema: dict, base: str | None) -> None:
        """Commit a version holding only a record: ``schema`` and no rows.
        No Spark job runs; ``read()`` hands the schema to a reader that
        finds no data files."""
        staged = self._staging()
        os.makedirs(staged)
        with open(os.path.join(staged, _COMMIT_RECORD), "w") as f:
            json.dump({"schema": schema, "rows": 0}, f)
        self._commit(staged, base)

    def _commit(self, staged: str, base: str | None) -> None:
        """Publish the staging dir ``staged`` as the version after ``base``,
        iff the pointer still reads ``base``."""
        with self._commit_lock():
            now = self._pointer_version()
            if now != base:
                shutil.rmtree(staged, ignore_errors=True)
                raise ConcurrentWriteError(
                    f"table {self.root} advanced {base!r} -> {now!r} "
                    "during this write; this version was discarded"
                )
            if not self._lock_is_mine():
                # We were paused long enough for a waiter to declare this
                # lock stale and steal it — the critical section is no
                # longer ours, so committing now could interleave with
                # the stealer's swap (lost update). Abort cleanly.
                shutil.rmtree(staged, ignore_errors=True)
                raise ConcurrentWriteError(
                    f"commit lock for {self.root} was stolen while this "
                    "writer was stalled; this version was discarded"
                )
            n = 0 if base is None else int(base[2:]) + 1
            out = os.path.join(self.root, f"v_{n:012d}")
            # A dir already here was left by a commit that crashed before
            # its pointer swap: uncommitted, so it is replaced.
            shutil.rmtree(out, ignore_errors=True)
            os.rename(staged, out)
            tmp = self._pointer + ".tmp"
            with open(tmp, "w") as f:
                f.write(os.path.basename(out))
            os.replace(tmp, self._pointer)  # atomic commit
        # Retention: drop committed versions beyond the keep window.
        for stale in self.history()[self.keep_versions:]:
            shutil.rmtree(os.path.join(self.root, stale), ignore_errors=True)

    def history(self) -> list[str]:
        """Committed version names, newest first, pruned versions excluded."""
        cur = self._pointer_version()
        if cur is None:
            return []
        return sorted(
            (v for v in os.listdir(self.root) if _VERSION.fullmatch(v) and v <= cur),
            reverse=True,
        )

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

    def create(self, schema: T.StructType) -> None:
        """CREATE TABLE IF NOT EXISTS: a table with no version yet gets an
        empty one with ``schema``, committed like ``truncate()``'s (a
        creator racing another gets ``ConcurrentWriteError``, as any
        losing writer does)."""
        if not self.exists():
            self._commit_empty(_nullable(schema).jsonValue(), None)

    def truncate(self) -> None:
        """S9: TRUNCATE TABLE — commit an empty version preserving schema."""
        base = self._pointer_version()
        if base is None:
            return
        path = os.path.join(self.root, base)
        self._commit_empty(self._commit_record(path)["schema"], base)

    def vacuum(self) -> None:
        """GC stale directories: every version but the retained committed
        ones, and every staging dir.

        A writer that dies before its pointer swap leaves a staging dir
        or a version numbered above the pointer — invisible to readers
        (crash-safety proven by
        ``tests/test_upsert.py::test_crash_between_write_and_swap``), but
        leaking disk. Single-writer assumption as documented for write();
        call between loads, never concurrently with one.
        """
        retained = set(self.history()[: self.keep_versions])
        for name in os.listdir(self.root):
            if name.startswith("_tmp_") or (
                name.startswith("v_") and name not in retained
            ):
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)


def overwrite_partitions(
    table: ParquetTable, df: DataFrame, partition_col: str, values
) -> None:
    """A7: replaceWhere-style refresh — replace the partitions whose
    ``partition_col`` is in ``values`` (one value or a list) with ``df``
    and keep the rest: the reference's ``DELETE … WHERE analysis_date =
    today`` + INSERT (SL:136-155), made atomic by the version swap. Rows
    whose partition value is NULL are never replaced. ``df`` must hold
    rows of the named partitions only; like Delta's replaceWhere, the
    write fails on any other row. ``table`` must exist (see ``create``)."""
    values = list(values) if isinstance(values, (list, tuple, set)) else [values]
    key = F.col(partition_col)
    fresh = df.withColumn(
        partition_col,
        F.when(key.isin(values), key).otherwise(
            F.raise_error(f"row outside the replaced {partition_col} partitions")
        ),
    )
    current = table.read()
    kept = current.filter(key.isNull() | ~key.isin(values))
    table.write(kept.unionByName(fresh.select(*current.columns)))


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
