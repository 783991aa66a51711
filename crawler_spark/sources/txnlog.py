"""Transaction-log state store: a Delta-style backend behind the same seam.

``SnapshotStore`` (``tables.py``) keeps its current state in one mutable
``MANIFEST.json``. This backend replaces that metadata machinery with the
commit protocol of log-structured table formats (Delta Lake's
``_delta_log``, Iceberg's metadata log — both public designs):

* state changes are appended as immutable, densely-numbered JSON *actions*
  under ``_txn_log/NNNNNNNN.json``; current state = left fold of the log;
* a commit claims its sequence number atomically (``link(2)`` onto the
  final name fails if the number is taken) — optimistic concurrency: two
  writers racing the same epoch produce ONE winner and a clean loser error
  instead of silent last-writer-wins;
* every ``CHECKPOINT_EVERY`` commits a folded checkpoint is written so
  replay cost stays O(recent commits), not O(history) — same role as
  Delta's ``_last_checkpoint``.

Data files (snapshot dirs, bucket chain links with their delete keys,
appended parts) are inherited from ``SnapshotStore`` unchanged — table
formats differ in metadata, not bytes. A bucketed table's action carries
its whole manifest entry, head versions plus per-bucket chains, so the fold
yields the chains a read merges (as Iceberg's manifests list a snapshot's
data and delete files).
The engine runs against either store; ``tests/test_store_contract.py`` and
the e2e smoke in ``tests/test_crawl_e2e.py`` prove the seam drop-in.
"""

from __future__ import annotations

import json
import os
import tempfile
from pathlib import Path

from crawler_spark.sources.tables import SnapshotStore

CHECKPOINT_EVERY = 10


class TxnLogStore(SnapshotStore):
    """``SnapshotStore`` with log-fold metadata instead of a mutable manifest."""

    def __init__(self, root):
        super().__init__(root)
        self._log_dir.mkdir(parents=True, exist_ok=True)
        self._fold_cache: tuple[int, dict] | None = None  # (last_seq, state)

    @property
    def _log_dir(self) -> Path:
        return self.root / "_txn_log"

    # -- log plumbing -------------------------------------------------------

    def _entries(self) -> list[Path]:
        return sorted(self._log_dir.glob("[0-9]" * 8 + ".json"))

    def _last_checkpoint(self) -> tuple[int, dict] | None:
        cps = sorted(self._log_dir.glob("checkpoint-*.json"))
        if not cps:
            return None
        seq = int(cps[-1].stem.split("-")[1])
        return seq, json.loads(cps[-1].read_text())

    def _append_action(self, action: dict) -> int:
        """Claim the next sequence number atomically; retry on collision."""
        for _ in range(100):
            entries = self._entries()
            seq = int(entries[-1].stem) + 1 if entries else 0
            final = self._log_dir / f"{seq:08d}.json"
            fd, tmp = tempfile.mkstemp(dir=self._log_dir, suffix=".tmp")
            with os.fdopen(fd, "w") as f:
                json.dump(action, f, indent=1)
            try:
                os.link(tmp, final)  # fails iff seq already claimed
                return seq
            except FileExistsError:
                continue  # another writer won this seq: fold theirs, retry
            finally:
                os.unlink(tmp)
        raise RuntimeError("txn log: could not claim a commit sequence")

    @staticmethod
    def _apply(state: dict, action: dict) -> dict:
        if "epoch" in action:
            state["epoch"] = action["epoch"]
        state["tables"].update(action.get("tables", {}))
        for name in action.get("drop_tables", []):
            state["tables"].pop(name, None)
        state.setdefault("meta", {}).update(action.get("meta", {}))
        return state

    def _maybe_checkpoint(self, seq: int, state: dict) -> None:
        if seq > 0 and seq % CHECKPOINT_EVERY == 0:
            cp = self._log_dir / f"checkpoint-{seq:010d}.json"
            tmp = cp.with_suffix(".tmp")
            tmp.write_text(json.dumps(state, indent=1))
            os.replace(tmp, cp)

    # -- SnapshotStore surface overrides ------------------------------------

    def read_manifest(self) -> dict:
        entries = self._entries()
        last_seq = int(entries[-1].stem) if entries else -1
        if self._fold_cache and self._fold_cache[0] == last_seq:
            return json.loads(json.dumps(self._fold_cache[1]))  # defensive copy
        cp = self._last_checkpoint()
        if cp:
            start, state = cp[0] + 1, cp[1]
        else:
            start, state = 0, {"epoch": -1, "tables": {}}
        for p in entries:
            if int(p.stem) >= start:
                state = self._apply(state, json.loads(p.read_text()))
        self._fold_cache = (last_seq, json.loads(json.dumps(state)))
        return state

    def commit(self, epoch: int, table_versions: dict) -> None:
        action = {
            "epoch": epoch,
            "tables": {k: v if isinstance(v, dict) else int(v)
                       for k, v in table_versions.items()},
        }
        seq = self._append_action(action)
        self._maybe_checkpoint(seq, self.read_manifest())

    def set_meta(self, **kv) -> None:
        self._append_action({"meta": kv})

    def drop(self, name: str) -> None:
        if self.read_manifest()["tables"].get(name) is None:
            return
        self._append_action({"drop_tables": [name]})
