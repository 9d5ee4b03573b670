"""Property tests (hypothesis) for driver-side planning logic — no Spark.

Invariants the compaction planner must hold at any scale:
  * every bin ≤ target file size (unless a single file already exceeds it)
  * bins partition the candidate set exactly (no loss, no duplication)
  * determinism: same inputs → same group ids
  * only small files are candidates unless include_all
"""

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from ocel_ocpn_lakehouse_spark.core import manifests as mf
from ocel_ocpn_lakehouse_spark.maintenance.compact import FileGroup, plan_compaction
from ocel_ocpn_lakehouse_spark.maintenance.rewrite import pack_tasks


class _FakeTable:
    def __init__(self, entries, target, small):
        self._entries = entries
        self.target_file_size = target
        self.small_file_bytes = small

    def live_entries(self):
        return self._entries


entries_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=200_000),  # size
        st.integers(min_value=0, max_value=3),  # partition bucket
    ),
    min_size=0,
    max_size=120,
)


@given(entries_strategy)
@settings(max_examples=200, deadline=None)
def test_ffd_plan_invariants(raw):
    target, small = 100_000, 50_000
    entries = [
        mf.ManifestEntry(
            path=f"data/b={b}/f{i:04d}.parquet",
            partition={"b": b},
            size_bytes=sz,
            record_count=1,
        )
        for i, (sz, b) in enumerate(raw)
    ]
    t = _FakeTable(entries, target, small)
    groups = plan_compaction(t)

    # candidates = small files only
    candidates = {e.path for e in entries if e.size_bytes < small}
    planned = [p for g in groups for p in g.input_paths]
    assert len(planned) == len(set(planned))  # no duplication
    assert set(planned) <= candidates  # no large files swept in

    sizes = {e.path: e.size_bytes for e in entries}
    for g in groups:
        assert len(g.input_paths) >= 2  # min_group_files
        assert sum(sizes[p] for p in g.input_paths) <= target
        assert g.input_bytes == sum(sizes[p] for p in g.input_paths)
        # a group never crosses partitions
        parts = {json.dumps(e.partition) for e in entries if e.path in set(g.input_paths)}
        assert len(parts) == 1

    # determinism
    groups2 = plan_compaction(_FakeTable(entries, target, small))
    assert [g.group_id for g in groups] == [g.group_id for g in groups2]


@given(entries_strategy)
@settings(max_examples=100, deadline=None)
def test_ffd_include_all_covers_everything(raw):
    target, small = 100_000, 50_000
    entries = [
        mf.ManifestEntry(
            path=f"data/b={b}/f{i:04d}.parquet",
            partition={"b": b},
            size_bytes=sz,
            record_count=1,
        )
        for i, (sz, b) in enumerate(raw)
    ]
    t = _FakeTable(entries, target, small)
    groups = plan_compaction(t, include_all=True, min_group_files=1)
    planned = sorted(p for g in groups for p in g.input_paths)
    assert planned == sorted(e.path for e in entries)
    assert isinstance(groups, list) and all(isinstance(g, FileGroup) for g in groups)


@given(
    st.lists(st.integers(min_value=0, max_value=10**9), max_size=200),
    st.integers(min_value=1, max_value=64),
)
@settings(max_examples=300, deadline=None)
def test_task_packing_invariants(weights, parallelism):
    """The fan-out rule: min(N, P) tasks, every spec in exactly one task,
    loads within one max weight of each other, deterministic."""
    tasks = pack_tasks(weights, parallelism)
    assert len(tasks) == min(len(weights), parallelism)
    assert sorted(i for t in tasks for i in t) == list(range(len(weights)))
    if weights:
        loads = [sum(weights[i] for i in t) for t in tasks]
        assert max(loads) <= min(loads) + max(weights)
        assert all(tasks)  # no idle task in the wave
    assert pack_tasks(list(weights), parallelism) == tasks
