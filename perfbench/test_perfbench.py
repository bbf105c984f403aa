"""Self-tests of the benchmark: span arithmetic, the tail rule, the
ingest model, the job output check, and a tiny-scale smoke run of both
workloads.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.harness import median, tail
from perfbench.report import END_TO_END, PER_LAYER
from perfbench.trace import Tracer, covered, self_times, summarize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _span(sid, name, start, end, parent=None, rid=1):
    return (sid, name, start, end, parent, rid)


def test_covered_merges_overlapping_children_and_clips_to_parent():
    assert covered(0, 10, [(1, 3), (2, 5), (7, 12), (-4, -1)]) == 7
    assert covered(0, 10, []) == 0


def test_self_time_subtracts_children_once():
    spans = [_span(1, "server.get", 0.0, 10.0),
             _span(2, "store.log", 1.0, 4.0, parent=1),
             _span(3, "store.log", 3.0, 6.0, parent=1),   # overlaps 2
             _span(4, "query.index", 5.0, 9.0, parent=3)]  # child of 3
    selfs = self_times(spans)
    assert selfs[1] == pytest.approx(10 - 5)   # children cover [1, 6]
    assert selfs[3] == pytest.approx(3 - 1)    # grandchild covers [5, 6]
    assert selfs[4] == pytest.approx(4)
    layers = summarize(spans)["layers"]
    assert layers["server"] == pytest.approx(5000)
    assert layers["store"] == pytest.approx(3000 + 2000)
    assert layers["query"] == pytest.approx(4000)


def test_tracer_links_parents_and_request_ids():
    tr = Tracer()
    with tr.span("server.get", root=True):
        with tr.span("store.log"):
            pass
    with tr.span("server.post", root=True):
        pass
    by_name = {s[1]: s for s in tr.spans}
    assert by_name["store.log"][4] == by_name["server.get"][0]
    assert by_name["store.log"][5] == by_name["server.get"][5]
    assert by_name["server.post"][5] != by_name["server.get"][5]


def test_tail_is_the_sample_with_ten_above_it():
    vals = list(range(100))
    assert tail(vals) == (89, 90.0, 100)
    assert tail(list(range(30)))[0] == 19
    # too few samples for anything above the median
    assert tail([5, 1, 3]) == (3, 50.0, 3)
    assert tail([]) == (None, None, 0)
    assert median([4, 1, 3, 2]) == 2.5


def test_ingest_model_mix_and_dedup_expectation():
    m = gen.IngestModel(seed=3, initial=3000)
    sent, changed = m.next_batch()
    ids = [e["id"] for e in sent]
    assert len(ids) == len(set(ids)) == 1000
    new = [i for i in ids if i not in m.current]
    assert len(new) == 400
    # unchanged re-sends are exactly the non-changed ids
    assert len(changed) == 900
    m.acknowledge(sent, changed)
    assert sum(m.versions.values()) == 3000 + 900
    with pytest.raises(ValueError):
        gen.IngestModel(seed=3, initial=1999)


def test_sync_merge_drops_tombstoned_partials():
    seed = 5
    dead = next(i for i in range(1000) if gen.sync_tombstone(i, seed))
    merged = gen.sync_merged(dead, seed)
    assert "p:score" not in merged and "p:tier" in merged
    alive = next(i for i in range(1000) if not gen.sync_tombstone(i, seed))
    assert {"p:score", "p:v", "p:tier", "p:w"} <= set(gen.sync_merged(alive, seed))


class _Ctx:
    seed = 11


def _job_rows(ids, cycle, seed, touch=False):
    rows = []
    for eid in ids:
        dim = gen.src_dim_of(int(eid.split(":")[1]), cycle, seed)
        rows.append({"id": eid, "recorded": 9, "c": str(cycle),
                     "label": gen.dim_label(dim, seed), "dim": dim,
                     "touch": "1" if touch else None})
    return rows


def test_job_output_check_flags_touch_only_writes():
    """A run that wrote its touch-only ids (the transform kept p:touch,
    so sink dedup could not drop them) fails the check, whatever the
    cycle those ids' payloads are from."""
    from perfbench.batch import Batch
    from perfbench.harness import Samples

    job = Batch(_Ctx(), n_src=4000)
    job.cycle = 3
    want = {f"src:{i}": 3 for i in range(10)}
    touch = {f"src:{i}" for i in range(10, 13)}
    ok = Samples()
    job._check_output(_job_rows(want, 3, _Ctx.seed), want, touch, ok)
    assert (ok.attempted, ok.failed) == (1, 0)
    for extra in (_job_rows(touch, 0, _Ctx.seed),
                  _job_rows(["src:0"], 3, _Ctx.seed)):      # duplicate
        bad = Samples()
        job._check_output(_job_rows(want, 3, _Ctx.seed) + extra, want,
                          touch, bad)
        assert bad.failed == 1
    stale = _job_rows(want, 3, _Ctx.seed)
    stale[1] = _job_rows(["src:1"], 2, _Ctx.seed)[0]
    kept = _job_rows(want, 3, _Ctx.seed)
    kept[0]["touch"] = "3"                                  # not removed
    for rows in (stale, kept, _job_rows(list(want)[1:], 3, _Ctx.seed)):
        bad = Samples()
        job._check_output(rows, want, touch, bad)
        assert bad.failed == 1


@pytest.mark.parametrize("workload,trace", [
    ("serve", 0), ("serve", 1), ("batch", 0), ("batch", 1)])
def test_smoke(workload, trace):
    """Both workloads end to end at tiny scale: the result line has the
    contract's keys and every metric of the selected set."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stdout
    want = PER_LAYER if trace else END_TO_END
    assert set(result["metrics"]) == set(want)


def test_refuses_to_run_without_the_program(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            with open(os.path.join(ROOT, "perfbench", name)) as src:
                (bench / name).write_text(src.read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
