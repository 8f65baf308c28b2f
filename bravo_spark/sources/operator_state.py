"""Non-keyed (operator) state: driver-local read / transform / write (EP3).

Mirrors the reference's design decision exactly: operator state is restored
**entirely in driver memory** per subtask (reader/OperatorStateReader.java:
161-211; README.md:115-117 documents the must-fit-in-memory assumption) and
snapshotted back from there (writer/OperatorStateWriter.java:285-329). It is
deliberately NOT distributed — operator state is metadata-scale by design
(offsets, broadcast rules, small buffers), and shipping it through Spark
would add a round trip for nothing. The 100 TB posture is unaffected: keyed
state (the data-scale part) flows through the distributed savepoint path.

State kinds and their restore semantics (Flink's public contract):
- **list state**: each subtask owns a partition of the list; restore
  redistributes splits round-robin across new parallelism.
- **union list state**: every subtask receives the concatenation of all
  subtasks' elements.
- **broadcast state**: a map, identical on every subtask; restore copies it.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any, Callable

from bravo_spark.sources.atomic import atomic_write

OPERATOR_STATE_FILE = "_bravo_operator_state"


@dataclass
class OperatorStateBackend:
    """In-memory non-keyed state of one subtask."""

    list_states: dict[str, list] = field(default_factory=dict)
    union_states: dict[str, list] = field(default_factory=dict)
    broadcast_states: dict[str, dict] = field(default_factory=dict)

    def get_list_state(self, name: str) -> list:
        return self.list_states.setdefault(name, [])

    def get_union_state(self, name: str) -> list:
        return self.union_states.setdefault(name, [])

    def get_broadcast_state(self, name: str) -> dict:
        return self.broadcast_states.setdefault(name, {})


def _bkey(k: Any) -> str:
    # broadcast maps are JSON objects; keys are stringified and tagged so
    # bool/int/str round-trip unambiguously
    if isinstance(k, bool):
        return f"b:{k}"
    if isinstance(k, int):
        return f"i:{k}"
    return f"s:{k}"


def _unbkey(s: str) -> Any:
    tag, _, v = s.partition(":")
    if tag == "b":
        return v == "True"
    if tag == "i":
        return int(v)
    return v


def write_operator_state(path: str, backends: list[OperatorStateBackend]) -> None:
    """Snapshot per-subtask backends into the savepoint directory."""
    os.makedirs(path, exist_ok=True)
    payload = [
        {
            "list_states": b.list_states,
            "union_states": b.union_states,
            "broadcast_states": {
                name: {_bkey(k): v for k, v in m.items()}
                for name, m in b.broadcast_states.items()
            },
        }
        for b in backends
    ]
    with atomic_write(os.path.join(path, OPERATOR_STATE_FILE), "w") as f:
        json.dump({"version": 1, "subtasks": payload}, f, indent=1)


def _load(path: str) -> list[dict]:
    fp = os.path.join(path, OPERATOR_STATE_FILE)
    if not os.path.exists(fp):
        return []
    with open(fp) as f:
        return json.load(f)["subtasks"]


def read_operator_state(
    path: str, *, parallelism: int | None = None
) -> list[OperatorStateBackend]:
    """Restore backends, redistributing for ``parallelism`` (defaults to the
    snapshot's subtask count): list state splits round-robin, union state
    concatenates everywhere, broadcast copies everywhere."""
    subtasks = _load(path)
    n_old = len(subtasks)
    n_new = parallelism if parallelism is not None else max(n_old, 1)

    # gather
    all_lists: dict[str, list] = {}
    all_union: dict[str, list] = {}
    bcast: dict[str, dict] = {}
    for st in subtasks:
        for name, vals in st.get("list_states", {}).items():
            all_lists.setdefault(name, []).extend(vals)
        for name, vals in st.get("union_states", {}).items():
            all_union.setdefault(name, []).extend(vals)
        for name, m in st.get("broadcast_states", {}).items():
            bcast.setdefault(name, {}).update({_unbkey(k): v for k, v in m.items()})

    out = [OperatorStateBackend() for _ in range(n_new)]
    for name, vals in all_lists.items():
        for i, v in enumerate(vals):
            out[i % n_new].get_list_state(name).append(v)
    for b in out:
        for name, vals in all_union.items():
            b.union_states[name] = list(vals)
        for name, m in bcast.items():
            b.broadcast_states[name] = dict(m)
    return out


def transform_operator_state(
    src_path: str,
    dst_path: str,
    fn: Callable[[int, OperatorStateBackend], None],
    *,
    parallelism: int | None = None,
) -> list[OperatorStateBackend]:
    """EP3 write-back: restore, apply the user's (subtask, backend) consumer
    in place (writer/OperatorStateWriter.java:285-312 analog), snapshot to
    ``dst_path``."""
    backends = read_operator_state(src_path, parallelism=parallelism)
    for i, b in enumerate(backends):
        fn(i, b)
    write_operator_state(dst_path, backends)
    return backends
