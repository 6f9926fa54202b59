"""A from-zero fold of a transaction log's raw entries: the reference the
checkpoint-bounded ``txlog.snapshot`` is checked against. It reads the
entry objects straight through the table's blob store, ignores
checkpoints, and shares no code with the engine's replay."""

from __future__ import annotations

import json

#: log-entry key -> Snapshot field
ENTRY_FACTS = {
    "file_buckets": "buckets",
    "file_stats": "stats",
    "file_bytes": "bytes",
    "file_layout_n": "layouts",
    "file_dicts": "dicts",
    "file_nulls": "nulls",
    "file_blooms": "blooms",
    "file_dvs": "dvs",
}


def fold_log(table, version: int | None = None) -> dict:
    """Every Snapshot field at ``version`` (default: the last entry),
    folded from entry 0: files in log order, bucket tags of live files,
    each writer's newest txn, every fact map by file key (newest entry
    wins, removed files kept), and the newest schema and table meta."""
    state: dict = {name: {} for name in ENTRY_FACTS.values()}
    state.update(files=[], txns={}, schema=None, table_meta=None, version=None)
    v = 0
    while (version is None or v <= version) and table.blob.exists(table._entry_path(v)):
        e = json.loads(table.blob.get_text(table._entry_path(v)))
        removed = set(e.get("removes", []))
        state["files"] = [f for f in state["files"] if f not in removed]
        state["files"] += e.get("adds", [])
        state["buckets"] = {f: b for f, b in state["buckets"].items() if f not in removed}
        for key, name in ENTRY_FACTS.items():
            state[name].update(e.get(key, {}))
        if e.get("txn"):
            w, ep = e["txn"]
            if w not in state["txns"] or ep >= state["txns"][w][0]:
                state["txns"][w] = [ep, v]
        for key in ("schema", "table_meta"):
            if key in e:
                state[key] = e[key]
        state["version"] = v
        v += 1
    return state


def replayed_files(table, version: int | None = None) -> list[str]:
    """The live file list at ``version`` by a from-zero fold."""
    return fold_log(table, version)["files"]
