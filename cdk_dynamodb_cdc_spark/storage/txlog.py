"""A minimal transactional table: versioned atomic commits over
immutable parquet files — the Delta-Lake transaction-log design built
from first principles on the Hadoop FileSystem API, for environments
without delta-spark (this container). Gives A11 a real ACID sink lane
and A13 a real ``VACUUM``.

Layout::

    <table>/
      data/c-<uuid>/part-*.parquet   immutable files, one dir per commit
      _txlog/00000000000000000042.json             one ACTION per version
      _txlog/00000000000000000040.checkpoint.json  full state every K versions

Each version file is an INCREMENTAL ACTION — the files this commit
``add``s to / ``remove``s from the live set, plus the (small) full
schema JSON and per-app ``txn`` high-water marks — so commit cost is
O(files touched), not O(files live): at 100-TB file counts with
frequent streaming commits a full-list manifest per version makes the
log O(commits x files) and every reader pays it. Every
``checkpoint_interval`` versions the committer also publishes a
CHECKPOINT holding the complete reconstructed state; a reader
materializes version v by opening the newest checkpoint <= v and
replaying at most ``checkpoint_interval`` action files — never the
whole log. This is Delta's _delta_log design (JSON actions + periodic
checkpoints); :meth:`TxTable.manifest` still RETURNS the full
reconstructed state dict, so every consumer of the old full-list
layout (snapshot, vacuum, scan, feeds, restore) is unchanged. A
version file may also hold the FULL-LIST form (a ``live`` key), read
as a full-state reset: :func:`clone` writes every clone's version 0
that way, so the clone's log never depends on the source's, and
tables written by older code hold it too.

ACID comes from two properties:

* data files are IMMUTABLE and INVISIBLE until a manifest names them
  (writers stage into a fresh ``c-<uuid>`` directory; a crashed job
  leaves only unreferenced orphans, which ``vacuum`` sweeps);
* the manifest is published with CREATE-EXCLUSIVE (HDFS/POSIX atomic
  create; object stores use a conditional put) — two writers racing
  version N: one wins, the loser re-reads the new state and retries
  against version N+1. That is optimistic concurrency control, the
  same protocol Delta runs. Every version goes through one method,
  :meth:`TxTable._publish`; appends and restores retry on a lost race,
  rewrites whose read set changed (OPTIMIZE, DML, metadata upgrades)
  raise instead.

Exactly-once streaming: every manifest carries the per-app BATCH
HIGH-WATER MARK (``txn: {app_id: max_batch_id}``, folded forward
through every commit and rewrite); a replayed micro-batch presents a
batch id at or below the mark and :meth:`TxTable.commit` returns
without writing, after reading only the LATEST manifest — the
transactional idempotence Delta exposes as ``txnAppId``/``txnVersion``
(batch ids are per-app monotone, which is foreachBatch's contract),
and the lane that subsumes the batch_id-partition-overwrite recipe in
``streaming/stream.py``.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

_LOG_DIR = "_txlog"
_DATA_DIR = "data"
_DV_DIR = "_dv"


def _evolve_schema(prev_json: str, new_json: str) -> str:
    """Additive schema evolution for appends: the committed schema is
    the previous columns (types unchanged — a type change raises, the
    caller must rewrite the table) plus any NEW columns the incoming
    batch introduces, which older files surface as NULL. Column order
    follows the previous schema, new columns appended — the same rules
    Delta's mergeSchema applies."""
    prev = StructType.fromJson(json.loads(prev_json))
    new = StructType.fromJson(json.loads(new_json))
    new_by_name = {f.name: f for f in new.fields}
    for f in prev.fields:
        g = new_by_name.get(f.name)
        if g is not None and g.dataType != f.dataType:
            raise ValueError(
                f"schema evolution cannot change column "
                f"{f.name!r} from {f.dataType.simpleString()} to "
                f"{g.dataType.simpleString()}; overwrite the table "
                f"to change types"
            )
    merged = list(prev.fields) + [
        f for f in new.fields if f.name not in {p.name for p in prev.fields}
    ]
    return StructType(merged).json()


def _apply_action(state: dict, action: dict) -> None:
    """Fold one version's action file into the running state (mutates
    ``state`` = {"live": [...], "stats": {...}, "dv": {...}}).

    * full-list form (``live`` key; a clone's version 0): full-state
      reset;
    * ``mode == "stats"``: stats attached, live set untouched;
    * ``mode == "delete_dv"``: deletion-vector pointers merged, live
      set and stats untouched (a merge-on-read delete moves no data);
    * anything else: ``live := (live - remove) ++ add``, previously
      attached stats are dropped (mirroring the original layout), and
      retired files drop their deletion vectors; an explicit
      ``dv_set`` (restore) then reinstates pointers.
    """
    if "live" in action:
        state["live"] = list(action["live"])
        state["stats"] = dict(action.get("stats", {}))
        state["dv"] = dict(action.get("dv", {}))
        return
    if action.get("mode") == "stats":
        state["stats"] = dict(action.get("stats", {}))
        return
    if action.get("mode") == "delete_dv":
        state.setdefault("dv", {}).update(action.get("dv_set", {}))
        return
    removed = set(action.get("remove", []))
    state["live"] = [
        f for f in state["live"] if f not in removed
    ] + list(action.get("add", []))
    state["stats"] = {}
    dv = state.setdefault("dv", {})
    for f in removed:
        dv.pop(f, None)
    if action.get("dv_set"):
        dv.update(action["dv_set"])


class TxTable:
    """Handle to a transaction-log table rooted at ``path``.

    ``checkpoint_interval``: publish a full-state checkpoint every K
    versions (0 disables). Readers replay at most K action files past
    the newest checkpoint; pick K to balance commit-path overhead
    (one checkpoint write per K commits) against read amplification.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        checkpoint_interval: int = 10,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.checkpoint_interval = checkpoint_interval
        jvm = spark._jvm
        self._jPath = jvm.org.apache.hadoop.fs.Path
        self._fs = self._jPath(self.path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        self._io = jvm.org.apache.commons.io.IOUtils

    # -- filesystem helpers (Hadoop FS: HDFS/S3A/local all work) -------

    def _ls(self, dir_path: str) -> list[str]:
        p = self._jPath(dir_path)
        if not self._fs.exists(p):
            return []
        return [
            st.getPath().toString()
            for st in self._fs.listStatus(p)
        ]

    def _part_files(self, dir_path: str) -> list[str]:
        """The ``part-`` files a Spark write left in ``dir_path``,
        sorted (its ``_SUCCESS`` marker and CRCs are not data)."""
        return sorted(
            f
            for f in self._ls(dir_path)
            if f.rsplit("/", 1)[-1].startswith("part-")
        )

    def _stage(self, write, parent: str = _DATA_DIR) -> list[str]:
        """Run ``write(dir)`` into a fresh directory under ``parent``
        (``data/c-<uuid>`` or ``_dv/d-<uuid>``) and return its part
        files — staged, invisible until a published version names
        them."""
        prefix = "d" if parent == _DV_DIR else "c"
        stage_dir = f"{self.path}/{parent}/{prefix}-{uuid.uuid4().hex[:12]}"
        write(stage_dir)
        return self._part_files(stage_dir)

    def _read_text(self, file_path: str) -> str:
        stream = self._fs.open(self._jPath(file_path))
        try:
            return self._io.toString(stream, "UTF-8")
        finally:
            stream.close()

    def _create_exclusive(self, file_path: str, text: str) -> bool:
        """Atomically create ``file_path``; False if it already exists
        (a concurrent committer won the version)."""
        try:
            out = self._fs.create(self._jPath(file_path), False)
        except Exception:
            return False
        try:
            out.write(bytearray(text.encode("utf-8")))
            out.hsync()
        finally:
            out.close()
        return True

    # -- log access ----------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return f"{self.path}/{_LOG_DIR}/{version:020d}.json"

    def _checkpoint_path(self, version: int) -> str:
        return f"{self.path}/{_LOG_DIR}/{version:020d}.checkpoint.json"

    def versions(self) -> list[int]:
        out = []
        for f in self._ls(f"{self.path}/{_LOG_DIR}"):
            name = f.rsplit("/", 1)[-1]
            if name.endswith(".json") and name[:-5].isdigit():
                out.append(int(name[:-5]))
        return sorted(out)

    def checkpoints(self) -> list[int]:
        out = []
        for f in self._ls(f"{self.path}/{_LOG_DIR}"):
            name = f.rsplit("/", 1)[-1]
            if name.endswith(".checkpoint.json"):
                out.append(int(name[: -len(".checkpoint.json")]))
        return sorted(out)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _action(self, version: int) -> dict:
        """The raw version file — an incremental action (or the
        full-list form). Schema and txn marks are carried in full on
        every action, so the commit path never reconstructs."""
        return json.loads(self._read_text(self._manifest_path(version)))

    def manifest(self, version: int) -> dict:
        """The COMPLETE state at ``version``, reconstructed from the
        newest checkpoint <= version plus at most
        ``checkpoint_interval`` action replays. Shape is the original
        full-list manifest dict (live/schema/txn/mode/...), so every
        downstream consumer is layout-agnostic."""
        action = self._action(version)
        if "live" in action:  # full-list form (a clone's v0): complete as-is
            return action
        state = {"live": [], "stats": {}, "dv": {}}
        start = 0
        for cp_v in reversed(self.checkpoints()):
            if cp_v <= version:
                cp = json.loads(
                    self._read_text(self._checkpoint_path(cp_v))
                )
                state["live"] = list(cp["live"])
                state["stats"] = dict(cp.get("stats", {}))
                state["dv"] = dict(cp.get("dv", {}))
                start = cp_v + 1
                break
        for v in range(start, version + 1):
            _apply_action(state, action if v == version else self._action(v))
        out = {
            k: v
            for k, v in action.items()
            if k not in ("add", "remove", "stats", "dv_set")
        }
        out["live"] = state["live"]
        if state["stats"]:
            out["stats"] = state["stats"]
        if state["dv"]:
            out["dv"] = state["dv"]
        return out

    def history(self) -> list[dict]:
        return [self.manifest(v) for v in self.versions()]

    def _maybe_checkpoint(self, version: int) -> None:
        """Publish a full-state checkpoint if ``version`` lands on the
        cadence. Best-effort and idempotent: create-exclusive, so two
        committers racing the same checkpoint write it once, and a
        failure never affects the already-durable commit."""
        k = self.checkpoint_interval
        if not k or version <= 0 or version % k != 0:
            return
        m = self.manifest(version)
        cp = {
            "version": version,
            "live": m["live"],
            "schema": m["schema"],
            "txn": m.get("txn", {}),
            "stats": m.get("stats", {}),
            "dv": m.get("dv", {}),
        }
        self._create_exclusive(
            self._checkpoint_path(version), json.dumps(cp)
        )

    # -- commits -------------------------------------------------------

    def _base(self) -> tuple[int, dict]:
        """The latest version and its manifest: the base a rewrite of
        the current table reads and publishes on top of."""
        latest = self.latest_version()
        if latest is None:
            raise ValueError(f"{self.path} has no commits")
        return latest, self.manifest(latest)

    def _publish(
        self,
        base: int | None,
        fields: dict,
        *,
        prev: dict | None = None,
        schema: str | None = None,
        app_id: str | None = None,
        batch_id: int | None = None,
    ) -> int | None:
        """Publish ``fields`` (the mode-specific keys) as the version
        after ``base`` — version 0 when ``base`` is None — and
        checkpoint on cadence. Returns that version, or None when a
        concurrent writer took it first; each caller keeps its own race
        policy (retry on the new state, or raise).

        Every version carries ``schema`` (default: the base's), the
        committing ``app_id``/``batch_id``, and ``txn``: the base's
        per-app batch marks, folded forward with this commit's.
        ``prev`` is the base's action or manifest when the caller has
        it already (read otherwise)."""
        if prev is None:
            prev = self._action(base) if base is not None else {}
        txn = dict(prev.get("txn", {}))
        if app_id is not None and batch_id is not None:
            txn[app_id] = batch_id
        version = 0 if base is None else base + 1
        action = {
            "version": version,
            **fields,
            "schema": prev["schema"] if schema is None else schema,
            "app_id": app_id,
            "batch_id": batch_id,
            "txn": txn,
        }
        if not self._create_exclusive(
            self._manifest_path(version), json.dumps(action)
        ):
            return None
        self._maybe_checkpoint(version)
        return version

    def commit(
        self,
        df: DataFrame,
        *,
        mode: str = "append",
        app_id: str | None = None,
        batch_id: int | None = None,
        expectations: list[dict] | None = None,
        max_retries: int = 10,
    ) -> int | None:
        """Write ``df``'s files and publish them atomically as the next
        version. Returns the committed version, or None when this
        ``(app_id, batch_id)`` pair is already in the log (replay —
        the commit is skipped, which is what makes a streaming sink
        exactly-once).

        ``mode``: "append" adds to the live set; "overwrite" replaces
        it (the previous files stay on disk for time travel until
        :meth:`vacuum`).

        ``expectations``: CHECK-constraint rules (operators/expect.py
        dicts) evaluated against ``df`` BEFORE any file is written —
        one violation and the whole commit raises, so a constrained
        table never holds a row that failed its contract (Delta's
        table CHECK constraints, enforced at the same boundary).
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite: {mode!r}")

        def replayed(prev: dict) -> bool:
            # O(1) replay detection: every manifest carries the per-app
            # high-water mark (batch ids are per-app monotone —
            # foreachBatch's contract), so one read of the LATEST
            # manifest decides. This is Delta's txnAppId/txnVersion
            # model; the old full-history scan was O(versions) per
            # commit.
            mark = prev.get("txn", {}).get(app_id)
            return None not in (batch_id, mark) and batch_id <= mark

        def latest_action() -> tuple[int | None, dict]:
            latest = self.latest_version()
            return latest, self._action(latest) if latest is not None else {}

        if batch_id is not None and replayed(latest_action()[1]):
            return None
        if expectations:
            from cdk_dynamodb_cdc_spark.operators.expect import check

            violated = [
                (r["rule"], r["violations"])
                for r in check(df, expectations).collect()
                if r["violations"] > 0
            ]
            if violated:
                raise ValueError(
                    f"commit rejected by CHECK constraints: {violated}"
                )

        new_files = self._stage(df.write.parquet)

        for _ in range(max_retries):
            latest, prev = latest_action()
            # a concurrent committer may have advanced the mark
            if replayed(prev):
                return None
            if mode == "append" and latest is not None:
                # incremental append: O(files written), never O(files
                # live) — the action names only this commit's files
                remove = []
                schema_json = _evolve_schema(
                    prev["schema"], df.schema.json()
                )
            else:
                # overwrite retires the current live set; that set is
                # reconstructed (checkpoint + <=K actions), the action
                # itself still only names touched files
                remove = (
                    self.manifest(latest)["live"]
                    if latest is not None and mode == "overwrite"
                    else []
                )
                schema_json = df.schema.json()
            version = self._publish(
                latest,
                {"mode": mode, "add": new_files, "remove": remove},
                prev=prev,
                schema=schema_json,
                app_id=app_id,
                batch_id=batch_id,
            )
            if version is not None:
                return version
            # lost the race: a concurrent writer took this version —
            # fold in ITS result and retry on the next one.
        raise RuntimeError(
            f"commit lost {max_retries} optimistic-concurrency races"
        )

    # -- reads ---------------------------------------------------------

    def snapshot(self, version: int | None = None) -> DataFrame:
        """The table at ``version`` (default: latest), read under the
        manifest's (possibly evolved) schema — files written before an
        additive evolution surface the new columns as NULL. Empty
        tables reconstruct their schema from the manifest."""
        latest = self.latest_version()
        if latest is None:
            raise ValueError(f"{self.path} has no commits")
        v = latest if version is None else version
        m = self.manifest(v)
        schema = StructType.fromJson(json.loads(m["schema"]))
        if not m["live"]:
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.schema(schema).parquet(*m["live"])
        return _subtract_dv(self, m, df)

    # -- maintenance ---------------------------------------------------

    def vacuum(
        self,
        retain_last: int = 1,
        retention_seconds: float = 3600.0,
    ) -> list[str]:
        """Delete data files referenced by NO retained version (the
        last ``retain_last`` manifests stay time-travelable) — plus
        crashed-commit orphans no manifest ever named. Older manifests
        remain readable as history metadata, but their exclusive files
        are gone, exactly like a vacuumed Delta table.

        Two guards make this safe against CONCURRENT commits (the same
        guards Delta's VACUUM uses):

        * candidate files are listed BEFORE the manifests are read, so
          a commit that publishes during the vacuum either published
          before our manifest read (its files land in ``keep``) or
          staged its files after our listing (never candidates);
        * files younger than ``retention_seconds`` are never deleted —
          this spares the window between a writer's ``df.write`` and
          its manifest publish, where the files are staged but not yet
          referenced by any manifest. Production keeps this at hours;
          tests pass ``retention_seconds=0`` for immediate sweeps.
        """
        import time

        candidates = [
            f
            for parent in (_DATA_DIR, _DV_DIR)
            for commit_dir in self._ls(f"{self.path}/{parent}")
            for f in self._part_files(commit_dir)
        ]
        # manifests are read AFTER the listing (see docstring)
        vs = self.versions()
        keep = set()
        for v in vs[-retain_last:] if retain_last else []:
            m = self.manifest(v)
            keep.update(m["live"])
            for dv_files in m.get("dv", {}).values():
                keep.update(dv_files)
        cutoff_ms = (time.time() - retention_seconds) * 1000.0
        deleted = []
        for f in candidates:
            if f in keep:
                continue
            p = self._jPath(f)
            try:
                if self._fs.getFileStatus(p).getModificationTime() > cutoff_ms:
                    continue  # inside the retention window: maybe mid-commit
            except Exception:
                continue  # already gone (concurrent vacuum)
            self._fs.delete(p, False)
            deleted.append(f)
        return deleted


def version_changed_files(
    table: TxTable,
    v_from: int,
    v_to: int,
    manifests: dict[int, dict] | None = None,
) -> tuple[list[str], list[str], StructType]:
    """The file-level delta between two committed versions:
    ``(added_files, removed_files, schema_at_v_to)``. Files live in
    both manifests contribute nothing and are never listed. Callers
    diffing SEVERAL version pairs of one table pass ``manifests`` (a
    ``{version: table.manifest(version)}`` cache) so each manifest is
    reconstructed from the log once, not once per pair."""
    if manifests is None:
        manifests = {}
    for v in (v_from, v_to):
        if v not in manifests:
            manifests[v] = table.manifest(v)
    m0, m1 = manifests[v_from], manifests[v_to]
    live0, live1 = set(m0["live"]), set(m1["live"])
    schema = StructType.fromJson(json.loads(m1["schema"]))
    return sorted(live1 - live0), sorted(live0 - live1), schema


def version_diff(
    table: TxTable,
    v_from: int,
    v_to: int,
    manifests: dict[int, dict] | None = None,
) -> tuple["DataFrame", "DataFrame"]:
    """Batch time-travel diff: the row-level changes between two
    committed versions, computed from CHANGED FILES ONLY — the batch
    twin of the streaming change feed (:func:`read_txlog_feed`).

    Returns ``(inserted, deleted)`` DataFrames. Files live in both
    manifests contribute nothing and are never opened; rows carried
    over by rewrites (OPTIMIZE, the kept side of an overwrite) cancel
    via multiset subtraction (``exceptAll``) of the added-file rows
    against the removed-file rows — so an OPTIMIZE-only step diffs to
    exactly zero rows. Cost: bytes read are bounded by the files that
    CHANGED between the versions plus one shuffle over those rows,
    never by table size — the property that makes incremental
    downstream maintenance affordable on a 100-TB table.
    """
    added_files, removed_files, schema = version_changed_files(
        table, v_from, v_to, manifests
    )

    def read(files: list[str]) -> DataFrame:
        if not files:
            return table.spark.createDataFrame([], schema)
        return table.spark.read.schema(schema).parquet(*files)

    added = read(added_files)
    removed = read(removed_files)
    return added.exceptAll(removed), removed.exceptAll(added)


def cleanup_log(table: TxTable, retain_versions: int = 100) -> list[str]:
    """Metadata vacuum for the incremental log: delete action and
    checkpoint files no retained read needs, so log size is bounded by
    ``retain_versions`` rather than growing with every commit ever
    made (Delta's log-retention cleanup).

    A version ``v`` stays reconstructable iff some checkpoint <= v
    survives along with every action in ``(checkpoint, v]``. We keep
    the newest checkpoint at or below the oldest retained version
    (``latest - retain_versions + 1``) and everything after it;
    earlier action files and superseded checkpoints are deleted.
    Versions older than that checkpoint stop being time-travelable —
    same contract as data-file ``vacuum``, which already bounds HOW
    FAR back snapshots reach; run both with aligned horizons. If no
    checkpoint predates the horizon (young table), nothing is
    deleted.

    Returns the deleted file paths.
    """
    latest = table.latest_version()
    if latest is None:
        return []
    oldest_retained = max(latest - retain_versions + 1, 0)
    base_cp = None
    for cp in table.checkpoints():
        if cp <= oldest_retained:
            base_cp = cp
    if base_cp is None:
        return []
    deleted = []
    for v in table.versions():
        if v < base_cp:
            p = table._manifest_path(v)
            table._fs.delete(table._jPath(p), False)
            deleted.append(p)
    for cp in table.checkpoints():
        if cp < base_cp:
            p = table._checkpoint_path(cp)
            table._fs.delete(table._jPath(p), False)
            deleted.append(p)
    return deleted


def txlog_sink_writer(
    spark: SparkSession,
    sink_path: str,
    app_id: str,
    *,
    expectations: list[dict] | None = None,
    dead_letter_path: str | None = None,
):
    """Transactional ``sink_writer`` for ``CdcPipeline.run_stream``, with
    no external package: each micro-batch is one atomic, idempotent
    ``TxTable.commit`` keyed by ``(app_id, batch_id)``, so replays
    after a crash publish nothing twice and readers never observe a
    half-written batch.

    With ``expectations``, each micro-batch is first split by the
    data contract (operators/expect.py:enforce): passing rows commit
    to the main table, violating rows — annotated with their failed
    rules — commit to the ``dead_letter_path`` table under the same
    batch id (both commits idempotent, so a replay after a crash
    between the two commits re-publishes only the missing one). This
    is the streaming composition of the contract lane: quarantine
    instead of reject, nothing dropped silently.
    """
    table = TxTable(spark, sink_path)
    dlq = (
        TxTable(spark, dead_letter_path)
        if dead_letter_path is not None
        else None
    )

    def write(events: DataFrame, batch_id: int) -> None:
        if expectations:
            from cdk_dynamodb_cdc_spark.operators.expect import enforce

            good, bad = enforce(events, expectations)
            if dlq is not None:
                dlq.commit(
                    bad,
                    mode="append",
                    app_id=f"{app_id}:dlq",
                    batch_id=batch_id,
                )
            events = good
        table.commit(
            events, mode="append", app_id=app_id, batch_id=batch_id
        )

    return write


def merge_into(
    table: TxTable,
    records: DataFrame,
    *,
    key_cols: tuple[str, ...] = ("pk", "sk"),
    app_id: str | None = None,
    batch_id: int | None = None,
) -> int | None:
    """MERGE INTO the transactional table: apply a CDC log window onto
    the current snapshot (matched keys update, new keys insert, REMOVE
    winners delete) and publish the result as ONE atomic overwrite
    version — readers see the pre-merge or post-merge table, never a
    mixture, and time travel keeps the pre-merge version until vacuum.

    Composition, not new machinery: the merge algebra is
    ``operators/compaction.merge_changes`` (whose oracle pins
    merge(snap(T1), log(T1,..]) == snap(latest) as a theorem); this
    wrapper adds the transactional boundary and the (app_id, batch_id)
    idempotence, which makes it safe to drive from foreachBatch.

    Note the full-overwrite write amplification: every merge rewrites
    the live set. Delta/Iceberg cut this with file-level change
    tracking (rewrite only files holding matched keys); with the
    bucket-partitioned snapshot store (`maintain_snapshot_stream`) the
    engine offers the same mitigation outside the txlog, and
    :func:`delete_where` / :func:`update_where` offer the
    deletion-vector (merge-on-read) lane inside it — O(matched rows)
    instead of O(live set) for predicate-shaped DML. For
    moderate-cadence maintenance windows the atomic boundary is worth
    the rewrite.
    """
    from cdk_dynamodb_cdc_spark.operators.compaction import merge_changes

    merged = merge_changes(
        table.snapshot(), records, key_cols=key_cols
    )
    return table.commit(
        merged, mode="overwrite", app_id=app_id, batch_id=batch_id
    )


def optimize(
    table: TxTable,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    zorder_cols: list[str] | None = None,
) -> int | None:
    """OPTIMIZE the transactional table: rewrite the CURRENT live set
    into ~target-sized files (optionally Z-order clustered,
    operators/layout.py) and publish the rewrite as one atomic
    overwrite version. Data is bit-for-bit the same rows; readers
    flip from many small files to few clustered ones at a version
    boundary, and the small files remain time-travelable until
    :meth:`TxTable.vacuum`. This is the storage-lane composition of
    the engine's two maintenance tools: txlog gives the atomic swap
    around `operators/layout.write_zordered`.

    Returns the new version, or None if the table is empty. Raises
    RuntimeError if a concurrent writer commits after the rewrite's
    base snapshot — publishing anyway would silently drop that
    writer's rows (the lost-update anomaly); the caller re-runs
    against the new state. Delta's OPTIMIZE resolves the same
    conflict the same way (rewrites abort when their read set
    changes).
    """
    from cdk_dynamodb_cdc_spark.operators.layout import write_zordered

    base, m = table._base()
    snap = table.snapshot(version=base)
    total = 0
    for f in m["live"]:
        total += table._fs.getFileStatus(table._jPath(f)).getLen()
    if total == 0:
        return None
    num_files = max(1, -(-total // target_file_bytes))

    def write(stage_dir: str) -> None:
        if zorder_cols:
            write_zordered(
                snap, stage_dir, zorder_cols, num_files=num_files
            )
        else:
            snap.repartition(num_files).write.parquet(stage_dir)

    new_files = table._stage(write)
    version = table._publish(
        base,
        {"mode": "optimize", "add": new_files, "remove": m["live"]},
        prev=m,
        schema=snap.schema.json(),
    )
    if version is None:
        raise RuntimeError(
            f"optimize based on v{base} lost the race for "
            f"v{base + 1}; re-run against the new state"
        )
    return version


# ---------------------------------------------------------------------------
# Change feed: stream FROM the transactional table. Offsets are table
# versions — seekable, checkpointed, deterministic — and each poll
# emits the rows of files ADDED by versions in (start, end]: the
# append-only change feed a downstream consumer tails, Delta-CDF
# style (append rows only; overwrite/optimize versions rewrite
# existing rows and are skipped by the feed). Each poll plans ONE
# INPUT PARTITION PER ADDED FILE and executors read their file
# directly, so replaying a large backlog parallelizes across the
# cluster instead of marshalling rows through the driver.
# ---------------------------------------------------------------------------
FEED_SOURCE_NAME = "txlog_feed"


def _localize_feed_cell(value, spec):
    """pyarrow's to_pylist yields tz-NAIVE datetimes for TIMESTAMP
    (LTZ) parquet columns, which Spark's arrow converter rejects
    ("Cannot convert tz-naive Timestamp"). The engine pins every
    session to UTC (session.py), so stored instants are UTC wall
    values — attach the zone on the way out. TIMESTAMP_NTZ fields
    stay naive (their spec is None).

    ``spec`` is the picklable recursion plan built by ``_ltz_specs``
    (ADVICE r12: timestamps nested in struct/array/map columns must
    localize too, not just top-level fields):

      None                      -> no timestamps anywhere below: no-op
      ("ts",)                   -> localize this datetime
      ("struct", {name: spec})  -> recurse into the named dict keys
      ("array", spec)           -> recurse into each element
      ("map", kspec, vspec)     -> recurse into keys/values
    """
    import datetime as _dt

    if spec is None or value is None:
        return value
    kind = spec[0]
    if kind == "ts":
        if getattr(value, "tzinfo", None) is None:
            return value.replace(tzinfo=_dt.timezone.utc)
        return value
    if kind == "struct":
        return {
            k: (_localize_feed_cell(v, spec[1].get(k)))
            for k, v in value.items()
        }
    if kind == "array":
        return [_localize_feed_cell(v, spec[1]) for v in value]
    if kind == "map":
        items = value.items() if hasattr(value, "items") else value
        return {
            _localize_feed_cell(k, spec[1]): _localize_feed_cell(v, spec[2])
            for k, v in items
        }
    raise ValueError(f"unknown localize spec {spec!r}")


def _ltz_spec_of(dt):
    """Recursion plan for one DataType, or None if nothing below it
    is a (local-zone) timestamp."""
    tn = dt.typeName()
    if tn == "timestamp":
        return ("ts",)
    if tn == "struct":
        sub = {
            f.name: s
            for f in dt.fields
            if (s := _ltz_spec_of(f.dataType)) is not None
        }
        return ("struct", sub) if sub else None
    if tn == "array":
        s = _ltz_spec_of(dt.elementType)
        return ("array", s) if s is not None else None
    if tn == "map":
        ks = _ltz_spec_of(dt.keyType)
        vs = _ltz_spec_of(dt.valueType)
        return ("map", ks, vs) if (ks is not None or vs is not None) else None
    return None


def _ltz_field_names(schema) -> dict:
    """Top-level field name -> localize spec (absent = no timestamps
    under that field). Kept under the historical name; the value is
    now a dict so nested timestamps recurse (ADVICE r12)."""
    return {
        f.name: s
        for f in schema.fields
        if (s := _ltz_spec_of(f.dataType)) is not None
    }


def _log_versions(path: str) -> list[int]:
    """Action-file versions under ``path/_txlog`` (plain-os listing —
    feed readers run without a Spark session). Checkpoint files are
    not versions."""
    import glob as _glob
    import os as _os

    out = []
    for f in _glob.glob(_os.path.join(path, _LOG_DIR, "*.json")):
        name = _os.path.basename(f)
        if name.endswith(".json") and name[:-5].isdigit():
            out.append(int(name[:-5]))
    return sorted(out)


def _log_action(path: str, version: int) -> dict:
    import os as _os

    with open(
        _os.path.join(path, _LOG_DIR, f"{version:020d}.json")
    ) as fh:
        return json.load(fh)


def _log_added_files(path: str, lo: int, hi: int) -> list[str]:
    """Files first appearing in versions ``(lo, hi]``. Only append
    versions contribute; overwrite/optimize/restore rewrite existing
    rows and are skipped by the change feed.

    Incremental logs answer this from the in-range action files alone
    (each append action names exactly its new files) — O(hi - lo)
    opens, never O(versions). An append version in the full-list form
    (older code wrote appends that way; a clone's version 0 uses the
    form too, but is no append) makes the range fall back to a full
    live-set replay."""
    vs = _log_versions(path)
    in_range = [v for v in vs if lo < v <= hi]
    actions = {v: _log_action(path, v) for v in in_range}
    if all(
        "add" in a
        for a in actions.values()
        if a.get("mode") == "append"
    ):
        return [
            f
            for v in in_range
            if actions[v].get("mode") == "append"
            for f in actions[v]["add"]
        ]
    added: list[str] = []
    state: dict = {"live": [], "stats": {}}
    for v in vs:
        a = actions.get(v) or _log_action(path, v)
        prev_live = set(state["live"])
        _apply_action(state, a)
        if lo < v <= hi and a.get("mode") == "append":
            added.extend(
                f for f in state["live"] if f not in prev_live
            )
    return added


class _FeedFilePartition(InputPartition):
    def __init__(
        self,
        path: str,
        field_names: list[str],
        tz_fields: dict | None = None,
    ):
        self.path = path
        self.field_names = field_names
        self.tz_fields = tz_fields or {}


class TxLogBulkFeedReader(DataSourceStreamReader):
    """Version offsets, file-grained partitions, executor-side reads.

    Rows are decoded BY NAME against the stream's declared schema
    (``field_names``), never positionally: files written before an
    additive schema evolution have fewer columns (they surface the new
    ones as NULL), and a writer whose DataFrame column order differs
    from the evolved manifest order must not have same-typed values
    silently swapped between columns."""

    def __init__(
        self,
        options: dict,
        field_names: list[str],
        tz_fields: dict | None = None,
    ):
        self.path = options["path"].rstrip("/")
        self.field_names = field_names
        self.tz_fields = tz_fields or {}

    def _versions(self) -> list[int]:
        return _log_versions(self.path)

    def initialOffset(self) -> dict:
        return {"version": -1}

    def latestOffset(self) -> dict:
        vs = self._versions()
        return {"version": vs[-1] if vs else -1}

    def partitions(self, start: dict, end: dict):
        added = _log_added_files(
            self.path,
            int(start.get("version", -1)),
            int(end.get("version", -1)),
        )
        # one partition per file: executors read in parallel
        names = self.field_names
        tz = self.tz_fields
        return [
            _FeedFilePartition(_local(f), names, tz) for f in added
        ] or [
            # Spark requires >= 1 partition
            _FeedFilePartition("", names, tz)
        ]

    def read(self, partition: _FeedFilePartition):
        if not partition.path:
            return iter([])
        import pyarrow.parquet as pq

        names = partition.field_names
        tz = partition.tz_fields
        rows = [
            tuple(
                _localize_feed_cell(rec.get(n), tz.get(n)) for n in names
            )
            for rec in pq.read_table(partition.path).to_pylist()
        ]
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass


class TxLogBulkFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FEED_SOURCE_NAME

    def schema(self):
        path = self.options["path"].rstrip("/")
        vs = _log_versions(path)
        if not vs:
            raise ValueError(f"{path} has no commits to infer a schema")
        schema_json = _log_action(path, vs[-1])["schema"]
        return StructType.fromJson(json.loads(schema_json))

    def streamReader(self, schema) -> TxLogBulkFeedReader:
        return TxLogBulkFeedReader(
            self.options,
            [f.name for f in schema.fields],
            _ltz_field_names(schema),
        )


def read_txlog_feed(spark: SparkSession, path: str):
    """Open the table's change feed as a streaming DataFrame (rows of
    files added by append commits, version offsets in the checkpoint,
    one executor-read partition per added file)."""
    spark.dataSource.register(TxLogBulkFeedDataSource)
    return (
        spark.readStream.format(FEED_SOURCE_NAME)
        .option("path", path)
        .load()
    )


# ---------------------------------------------------------------------------
# Data skipping: per-file column statistics in the manifest, consumed
# by stats-pruned scans. collect_stats() reads footer min/max for the
# requested columns (bounded by files-per-commit; in a distributed
# writer these numbers fall out of the write tasks themselves, as
# Delta collects them); scan() intersects range predicates with the
# stats and hands Spark only the files that can match — composed with
# optimize(zorder_cols=...), this is the working OPTIMIZE + data-
# skipping stack.
# ---------------------------------------------------------------------------


def _local(p: str) -> str:
    return "/" + p.split(":", 1)[1].lstrip("/") if ":" in p else p


def _json_stat(v):
    """JSON-serializable form of a footer min/max, or None when the
    type has no safe serialization (binary): date/datetime become ISO
    strings — which order lexicographically exactly as they order
    chronologically, so range intersection in :func:`scan` still
    works — numbers and strings pass through."""
    import datetime

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return None
    if isinstance(v, (int, float, str, bool)):
        return v
    return None


def collect_stats(files: list[str], cols: list[str]) -> dict:
    """``{file: {col: [min, max]}}`` from parquet footers. Temporal
    stats are ISO strings (JSON-safe, order-preserving); columns whose
    stats cannot be serialized (binary, exotic types) are omitted for
    that file — scan() then never prunes on them, which is always
    correct."""
    import pyarrow.parquet as pq

    out: dict = {}
    for f in files:
        pf = pq.ParquetFile(_local(f))
        per_col: dict = {}
        for c in cols:
            idx = pf.schema_arrow.get_field_index(c)
            if idx < 0:
                continue
            mins, maxs = [], []
            for i in range(pf.metadata.num_row_groups):
                try:
                    st = pf.metadata.row_group(i).column(idx).statistics
                    lo_hi = (
                        (st.min, st.max) if st is not None else None
                    )
                except Exception:
                    lo_hi = None  # type pyarrow can't extract (decimal)
                if lo_hi is None or lo_hi[0] is None:
                    mins, maxs = [], []
                    break
                mins.append(lo_hi[0])
                maxs.append(lo_hi[1])
            if mins:
                lo, hi = _json_stat(min(mins)), _json_stat(max(maxs))
                if lo is not None and hi is not None:
                    per_col[c] = [lo, hi]
        out[f] = per_col
    return out


def attach_stats(table: TxTable, cols: list[str]) -> int:
    """Republish the CURRENT version's manifest content as a new
    version carrying per-file stats for ``cols`` (an in-place metadata
    upgrade — same live set, same schema). Returns the new version."""
    base, m = table._base()
    version = table._publish(
        base,
        {
            "mode": "stats",
            "add": [],
            "remove": [],
            "stats": collect_stats(m["live"], cols),
        },
        prev=m,
    )
    if version is None:
        raise RuntimeError(
            f"attach_stats based on v{base} lost the race; re-run"
        )
    return version


def scan(
    table: TxTable,
    *,
    where: list[tuple] | None = None,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Stats-pruned read: ``where`` is a list of ``(col, lo, hi)``
    closed ranges (ANDed). Files whose stats exclude the range are
    never handed to Spark. Returns ``(df, files_read, files_total)``
    — the DataFrame still carries the predicate as a filter, so
    correctness never depends on pruning, only scan cost does (the
    same contract as parquet row-group pruning)."""
    import datetime

    def _norm(bound):
        # predicate bounds given as date/datetime compare against the
        # manifest's ISO-string temporal stats (same format, so
        # lexicographic == chronological)
        if isinstance(bound, (datetime.datetime, datetime.date)):
            return bound.isoformat()
        return bound

    v = table.latest_version() if version is None else version
    m = table.manifest(v)
    stats = m.get("stats", {})
    keep = []
    for f in m["live"]:
        per_col = stats.get(f, {})
        ok = True
        for c, lo, hi in where or []:
            rng = per_col.get(c)
            if rng is not None and (
                rng[0] > _norm(hi) or rng[1] < _norm(lo)
            ):
                ok = False
                break
        if ok:
            keep.append(f)
    schema = StructType.fromJson(json.loads(m["schema"]))
    if not keep:
        df = table.spark.createDataFrame([], schema)
    else:
        df = _subtract_dv(
            table, m, table.spark.read.schema(schema).parquet(*keep)
        )
    for c, lo, hi in where or []:
        df = df.filter((F.col(c) >= lo) & (F.col(c) <= hi))
    return df, len(keep), len(m["live"])


# ---------------------------------------------------------------------------
# Deletion vectors: merge-on-read DELETE. A delete writes NO data
# file — it records the (file, row position) of every matched row in
# a deletion-vector parquet and publishes a metadata-only
# ``delete_dv`` version; readers subtract the vector with an
# anti-join on Spark's parquet ``_metadata.file_path`` /
# ``_metadata.row_index`` columns (positions are stable per file).
# This is the Delta deletion-vector / Iceberg positional-delete
# design: a delete touching 0.1% of rows costs writing 0.1% of
# positions instead of rewriting every touched file; OPTIMIZE (which
# reads through snapshot() and overwrites) materializes the deletes
# and drops the vectors. Each delete CONSOLIDATES: the new vector
# set is (old positions ∪ new matches), so reads always subtract one
# dv generation, and vacuum reclaims superseded dv files with the
# same retained-manifest rule as data files.
# ---------------------------------------------------------------------------


def _dv_frame(table: TxTable, m: dict):
    """All deletion-vector rows for manifest ``m`` as a DataFrame
    ``(file, pos)``, or None when the version carries no vectors."""
    paths = sorted(
        {p for lst in m.get("dv", {}).values() for p in lst}
    )
    if not paths:
        return None
    return table.spark.read.schema("file string, pos long").parquet(
        *paths
    )


def _visible_tagged(table: TxTable, m: dict, df: DataFrame) -> DataFrame:
    """``df`` (freshly scanned from ``m``'s live files) tagged with each
    row's position, ``__fp`` = ``_metadata.file_path`` and ``__ri`` =
    ``_metadata.row_index``, minus the rows ``m``'s deletion vectors
    already delete."""
    tagged = df.select(
        "*",
        F.col("_metadata.file_path").alias("__fp"),
        F.col("_metadata.row_index").alias("__ri"),
    )
    dv = _dv_frame(table, m)
    if dv is None:
        return tagged
    return tagged.join(
        dv,
        (tagged["__fp"] == dv["file"]) & (tagged["__ri"] == dv["pos"]),
        "left_anti",
    )


def _subtract_dv(table: TxTable, m: dict, df: DataFrame) -> DataFrame:
    """Apply ``m``'s deletion vectors to a frame freshly scanned from
    (a subset of) its live files. No vectors -> the frame passes
    through untouched with no metadata columns added."""
    if not m.get("dv"):
        return df
    return _visible_tagged(table, m, df).drop("__fp", "__ri")


def _dv_rewrite(
    table: TxTable,
    op: str,
    condition,
    set_exprs: dict[str, str] | None = None,
) -> tuple[int, int] | None:
    """The deletion-vector step of :func:`delete_where` and
    :func:`update_where`: shadow the visible rows matching
    ``condition`` with one consolidated vector (old positions ∪ new
    matches) and publish it as one version. With ``set_exprs`` the
    matched rows' updated copies are appended in the same version
    (``mode: "append"``); without, the version is metadata-only
    (``mode: "delete_dv"``). Returns ``(version, n_matched)``, or None
    when nothing matched (no version is published).

    The driver holds only the affected FILE LIST (bounded by live-set
    size, same as the manifest itself); matched positions stream
    executor-side into the dv parquet."""
    base, m = table._base()
    if not m["live"]:
        return None
    schema = StructType.fromJson(json.loads(m["schema"]))
    cond = F.expr(condition) if isinstance(condition, str) else condition
    # rows an earlier vector deleted are not visible and must not
    # match (or count) again
    matched = _visible_tagged(
        table, m, table.spark.read.schema(schema).parquet(*m["live"])
    ).filter(cond)
    if set_exprs is None:
        matched = matched.select("__fp", "__ri")
    # one corpus scan: materialized, then reused by the count, the
    # rewrite, and the consolidation write
    matched = matched.localCheckpoint(eager=True)
    n_matched = matched.count()
    if n_matched == 0:
        return None
    add = []
    if set_exprs is not None:
        # the updated copies, in manifest-schema column order
        updated = matched.select(
            *[
                F.expr(set_exprs[c]).cast(f.dataType).alias(c)
                if c in set_exprs
                else F.col(c)
                for c, f in zip(schema.fieldNames(), schema.fields)
            ]
        )
        add = table._stage(updated.write.parquet)
    hits = matched.select(
        F.col("__fp").alias("file"), F.col("__ri").alias("pos")
    )
    old = _dv_frame(table, m)
    new_dv = hits if old is None else hits.unionByName(old).distinct()
    dv_files = table._stage(new_dv.write.parquet, _DV_DIR)
    # affected data files (normalized: _metadata paths are URIs, the
    # manifest stores Hadoop-FS forms)
    touched = {
        _local(r["file"])
        for r in table.spark.read.schema("file string, pos long")
        .parquet(*dv_files)
        .select("file")
        .distinct()
        .collect()
    }
    dv_set = {f: dv_files for f in m["live"] if _local(f) in touched}
    version = table._publish(
        base,
        {
            "mode": "delete_dv" if set_exprs is None else "append",
            "add": add,
            "remove": [],
            "dv_set": dv_set,
        },
        prev=m,
    )
    if version is None:
        raise RuntimeError(f"{op} based on v{base} lost the race; re-run")
    return version, n_matched


def delete_where(table: TxTable, condition) -> tuple[int, int] | None:
    """DELETE WHERE as a merge-on-read operation: record matched row
    positions in a deletion vector and publish a metadata-only
    version — no data file is read back, rewritten, or moved.
    ``condition`` is a Column or SQL string over the table's columns.
    Returns ``(version, n_deleted)``, or None when nothing matched
    (no version is published for an empty delete)."""
    return _dv_rewrite(table, "delete_where", condition)


def update_where(
    table: TxTable,
    condition,
    set_exprs: dict[str, str],
) -> tuple[int, int] | None:
    """UPDATE WHERE as one atomic version: matched rows are shadowed
    by a deletion vector and their updated copies are appended — the
    single published action carries BOTH (``add`` + ``dv_set``), so
    readers see pre-update or post-update state, never a mixture, and
    unmatched files are never rewritten (write cost is O(matched
    rows), not O(touched files) — the deletion-vector analogue of
    Delta's UPDATE). ``set_exprs`` maps column name -> SQL expression
    over the pre-update row. Returns ``(version, n_updated)`` or None
    when nothing matched."""
    return _dv_rewrite(table, "update_where", condition, set_exprs)


def clone(
    src: TxTable,
    dest_path: str,
    *,
    version: int | None = None,
) -> TxTable:
    """SHALLOW CLONE: a new independent table whose version 0 manifest
    REFERENCES the source's data files (and deletion vectors) at
    ``version`` — zero data copied, so cloning a 100-TB table costs
    one metadata write. Commits to the clone never touch the source
    (appends add clone-local files; OPTIMIZE/overwrite on the clone
    rewrites into the clone's own directory, which fully detaches it).

    The Delta SHALLOW CLONE hazard applies verbatim: ``vacuum`` on the
    SOURCE can delete shared files the clone still references. Detach
    (OPTIMIZE the clone) before vacuuming the source, or vacuum with a
    retention that keeps the cloned version."""
    if src.latest_version() is None:
        raise ValueError(f"{src.path} has no commits; nothing to clone")
    v = src.latest_version() if version is None else version
    m = src.manifest(v)
    dest = TxTable(
        src.spark,
        dest_path,
        checkpoint_interval=src.checkpoint_interval,
    )
    if dest.latest_version() is not None:
        raise ValueError(f"{dest_path} already has commits")
    published = dest._publish(
        None,
        {
            "mode": "clone",
            "cloned_from": f"{src.path}@v{v}",
            # full-list form: the fold treats this as a complete state
            # reset, so the clone's log never depends on the source's
            "live": list(m["live"]),
            "stats": dict(m.get("stats", {})),
            "dv": dict(m.get("dv", {})),
        },
        schema=m["schema"],
    )
    if published is None:
        raise RuntimeError(f"clone lost the race creating {dest_path}")
    return dest


# ---------------------------------------------------------------------------
# Bloom file skipping: per-file Bloom filters in the manifest for
# EQUALITY predicates — the pruning min/max stats cannot do. A
# CDC-materialized table keyed by a high-cardinality pk has every
# file's [min, max] spanning the whole key space (writes arrive in
# arrival order, not key order), so range stats prune nothing; a
# per-file Bloom answers "might file F contain pk = X" in O(k) bit
# probes and prunes a point lookup to the files that can match —
# Delta's bloom-filter-index / Parquet bloom lane, kept engine-side
# so the planner (not the format) owns the decision. Filters are
# md5-positioned bitsets serialized base64 into the same stats
# channel the range lane uses ("__bloom__" per-file key — range
# pruning never reads it), sized ~10 bits per distinct key (<~1%
# false positives, so a miss-probe reads ~1% of files instead of
# all). Build cost mirrors collect_stats: file-local distinct-value
# reads, the work a distributed writer's tasks produce for free.
# ---------------------------------------------------------------------------


def _bloom_positions(value, m_bits: int, k: int) -> list[int]:
    """k bit positions for ``value`` in an m-bit filter. Each probe
    hashes the canonical string rendering with a per-probe salt —
    deterministic across build and lookup, no RNG state."""
    import hashlib

    s = str(value)
    return [
        int.from_bytes(
            hashlib.md5(f"bloom{j}:{s}".encode()).digest()[:8], "big"
        )
        % m_bits
        for j in range(k)
    ]


def _bloom_build(values, *, bits_per_key: int = 10, k: int = 5):
    """``(m_bits, k, base64-bitset)`` for a file's distinct values."""
    import base64

    vals = list(values)
    m_bits = max(1024, bits_per_key * len(vals))
    m_bits += (-m_bits) % 8
    bits = bytearray(m_bits // 8)
    for v in vals:
        if v is None:
            continue
        for p in _bloom_positions(v, m_bits, k):
            bits[p // 8] |= 1 << (p % 8)
    return m_bits, k, base64.b64encode(bytes(bits)).decode()


def _bloom_maybe_contains(meta: dict, value) -> bool:
    import base64

    bits = base64.b64decode(meta["b64"])
    for p in _bloom_positions(value, meta["m"], meta["k"]):
        if not (bits[p // 8] >> (p % 8)) & 1:
            return False
    return True


def collect_blooms(
    files: list[str], cols: list[str], *, bits_per_key: int = 10, k: int = 5
) -> dict:
    """``{file: {col: {m, k, b64}}}`` from per-file distinct values
    (int/string columns; others are skipped — scan() then never
    bloom-prunes on them, which is always correct)."""
    import pyarrow.parquet as pq

    out: dict = {}
    for f in files:
        pf = pq.ParquetFile(_local(f))
        per_col: dict = {}
        for c in cols:
            if pf.schema_arrow.get_field_index(c) < 0:
                continue
            col = pf.read(columns=[c]).column(0)
            vals = {v for v in col.to_pylist() if v is not None}
            if not all(isinstance(v, (int, str)) for v in vals):
                continue
            m_bits, kk, b64 = _bloom_build(
                vals, bits_per_key=bits_per_key, k=k
            )
            per_col[c] = {"m": m_bits, "k": kk, "b64": b64}
        out[f] = per_col
    return out


def attach_blooms(
    table: TxTable,
    cols: list[str],
    *,
    bits_per_key: int = 10,
    k: int = 5,
) -> int:
    """Republish the current manifest with per-file Bloom filters for
    ``cols`` merged into the stats channel (existing range stats for
    the same files are preserved). Returns the new version."""
    base, m = table._base()
    stats = {f: dict(per) for f, per in m.get("stats", {}).items()}
    blooms = collect_blooms(
        m["live"], cols, bits_per_key=bits_per_key, k=k
    )
    for f, per_col in blooms.items():
        entry = stats.setdefault(f, {})
        merged = dict(entry.get("__bloom__", {}))
        merged.update(per_col)
        entry["__bloom__"] = merged
    version = table._publish(
        base,
        {"mode": "stats", "add": [], "remove": [], "stats": stats},
        prev=m,
    )
    if version is None:
        raise RuntimeError(
            f"attach_blooms based on v{base} lost the race; re-run"
        )
    return version


def scan_point(
    table: TxTable,
    col: str,
    values: list,
    *,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Bloom-pruned point lookup: rows where ``col`` IN ``values``,
    reading only files whose Bloom filter says some probe value might
    be present. Same contract as :func:`scan`: the returned frame
    still carries the IN filter, so correctness never depends on
    pruning — a false positive only costs one extra file read.
    Returns ``(df, files_read, files_total)``."""
    v = table.latest_version() if version is None else version
    m = table.manifest(v)
    stats = m.get("stats", {})
    keep = []
    for f in m["live"]:
        meta = stats.get(f, {}).get("__bloom__", {}).get(col)
        if meta is None or any(
            _bloom_maybe_contains(meta, val) for val in values
        ):
            keep.append(f)
    schema = StructType.fromJson(json.loads(m["schema"]))
    if not keep:
        df = table.spark.createDataFrame([], schema)
    else:
        df = _subtract_dv(
            table, m, table.spark.read.schema(schema).parquet(*keep)
        )
    df = df.filter(F.col(col).isin(values))
    return df, len(keep), len(m["live"])


def restore(table: TxTable, version: int) -> int:
    """RESTORE: make an earlier version's content the CURRENT table
    state, published as a new overwrite version (history intact — the
    rollback itself is time-travelable, exactly like Delta RESTORE).
    The restored version's files must still exist (not vacuumed) —
    verified before publishing, so a restore never creates a current
    version whose reads fail later."""
    if table.latest_version() is None:
        raise ValueError(
            f"{table.path} has no commits; nothing to restore"
        )
    m = table.manifest(version)
    missing = [
        f for f in m["live"] if not table._fs.exists(table._jPath(f))
    ]
    if missing:
        raise ValueError(
            f"cannot restore {table.path} to v{version}: "
            f"{len(missing)} of its files were vacuumed "
            f"(first: {missing[0]})"
        )
    for _ in range(10):
        latest, current = table._base()
        published = table._publish(
            latest,
            {
                "mode": "restore",
                "restored_from": version,
                # restore = retire the whole current live set, re-add
                # the restored one (the action names both explicitly
                # so log replay never needs the restored-from
                # version's state)
                "add": m["live"],
                "remove": current["live"],
                # the restored version's deletion vectors come back
                # with it (fold order: retired files drop vectors,
                # then dv_set reinstates the restored pointers)
                "dv_set": m.get("dv", {}),
            },
            prev=current,
            schema=m["schema"],
        )
        if published is not None:
            return published
    raise RuntimeError("restore lost 10 optimistic-concurrency races")
