"""Unit tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


class SmallOltp(workloads.Oltp):
    accounts_n = 2_000


def _op_texts(client, n):
    return [(op.kind, op.text) for op in (client.next_op() for _ in range(n))]


def _tree_digest(root):
    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# -- determinism ---------------------------------------------------------------


def test_oltp_same_seed_same_ops(tmp_path):
    a = SmallOltp(7, str(tmp_path / "a")).client(1, "127.0.0.1", 1)
    b = SmallOltp(7, str(tmp_path / "b")).client(1, "127.0.0.1", 1)
    c = SmallOltp(8, str(tmp_path / "c")).client(1, "127.0.0.1", 1)
    ops_a, ops_b, ops_c = _op_texts(a, 300), _op_texts(b, 300), _op_texts(c, 300)
    assert ops_a == ops_b
    assert ops_a != ops_c
    kinds = [k for k, _ in ops_a]
    # the session cycle: drop + logout + login + create every 30 statements
    assert kinds[:2] == ["login", "create_temp"]
    assert kinds.count("login") == kinds.count("create_temp")
    stmts = [k for k in kinds if k not in ("login", "logout", "create_temp", "drop_temp")]
    selects = sum(k.startswith("select") for k in stmts)
    assert abs(selects / len(stmts) - 0.70) < 0.02
    assert abs(sum(k == "insert" for k in stmts) / len(stmts) - 0.15) < 0.02


def test_oltp_clients_own_disjoint_keys(tmp_path):
    wl = SmallOltp(3, str(tmp_path))
    clients = [wl.client(i, "127.0.0.1", 1) for i in range(wl.clients)]
    owned = [set(c.model) for c in clients]
    assert sum(map(len, owned)) == wl.accounts_n
    assert all(not (owned[i] & owned[j]) for i in range(4) for j in range(i + 1, 4))


def test_same_seed_same_inputs(tmp_path):
    for d in ("a", "b"):
        for cls in (SmallOltp, workloads.Ingest):
            cls(11, str(tmp_path / d)).make_inputs()
    assert _tree_digest(tmp_path / "a") == _tree_digest(tmp_path / "b")


def test_same_seed_same_staged_files(tmp_path):
    digests = []
    for d, seed in (("a", 4), ("b", 4), ("c", 5)):
        wl = workloads.Ingest(seed, str(tmp_path / d))
        client = wl.client(1, "127.0.0.1", 1)
        _op_texts(client, 40)  # plans several loops, writing their files
        digests.append(_tree_digest(tmp_path / d))
    assert digests[0] == digests[1] != digests[2]


def test_ingest_merge_is_half_updates(tmp_path):
    client = workloads.Ingest(2, str(tmp_path)).client(0, "127.0.0.1", 1)
    before = set(client.target)
    files = client.loop_files(0)
    ids = [r[0] for _e, _f, rows in files for r in rows]
    assert len(ids) == len(set(ids))
    assert sum(i in before for i in ids) == len(ids) // 2


# -- statistics ----------------------------------------------------------------


def test_percentile_interpolates():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == pytest.approx(50.5)
    assert stats.percentile(xs, 90) == pytest.approx(90.1)
    assert stats.percentile([3.0], 99) == 3.0


@pytest.mark.parametrize("n,pct", [(1000, 99.0), (500, 95.0), (200, 95.0), (150, 90.0),
                                   (100, 90.0), (50, None), (5, None)])
def test_tail_selection(n, pct):
    assert stats.select_tail(n) == pct


def test_samples_beyond():
    assert stats.samples_beyond(100, 90.0) == 10
    assert stats.samples_beyond(1000, 99.0) == 10
    assert stats.samples_beyond(50, 90.0) == 5


def test_mix_percentile_weights_kinds_by_count():
    by_kind = {"read": [10.0, 10.0, 10.0], "write": [1000.0]}
    assert stats.mix_percentile(by_kind, 50) == pytest.approx((3 * 10.0 + 1000.0) / 4)
    # unaffected by where the pooled median would fall
    assert stats.mix_percentile({"a": [1.0, 3.0], "b": [5.0]}, 50) == pytest.approx(
        (2 * 2.0 + 5.0) / 3)


# -- tracing ----------------------------------------------------------------------


def _span(name, start, end, parent=-1):
    return tracing.Span(name, start, end, parent, "op", 0)


def test_self_time_nested():
    spans = [
        _span("server", 0.0, 10.0),
        _span("engine", 1.0, 9.0, 0),
        _span("plan", 2.0, 4.0, 1),
        _span("collect", 5.0, 8.0, 1),
        _span("serialize", 8.0, 8.5, 1),
    ]
    assert tracing.self_times(spans) == pytest.approx([2.0, 2.5, 2.0, 3.0, 0.5])


def test_self_time_overlapping_and_clipped_children():
    spans = [
        _span("parent", 0.0, 10.0),
        _span("a", 1.0, 5.0, 0),
        _span("b", 3.0, 7.0, 0),      # overlaps a: union is 1..7
        _span("c", 9.0, 12.0, 0),     # outlives the parent: clipped to 9..10
    ]
    assert tracing.self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_recorder_nesting_and_reentry():
    rec = tracing.Recorder()
    assert rec.enter("x") is None  # no traced op on this thread
    rec.begin_op("op-1", "select")
    outer = rec.enter("engine")
    inner = rec.enter("plan")
    again = rec.enter("engine")  # re-entrant call folds into the outer span
    assert again is None
    rec.exit(again)
    rec.exit(inner)
    rec.exit(outer)
    rec.end_op()
    assert [(s.name, s.parent, s.op) for s in rec.spans] == [
        ("engine", -1, "op-1"), ("plan", 0, "op-1")]
    assert rec.op_kinds == {"op-1": "select"}


def test_wrappers_time_methods_and_classmethods():
    rec = tracing.Recorder()

    class Thing:
        def work(self, x):
            return x * 2

        @classmethod
        def make(cls, n):
            return list(range(n))

    seen = []
    tracing.wrap_method(rec, Thing, "work", "work")
    tracing.wrap_method(rec, Thing, "make", "make", after=lambda a, k, out: seen.append(len(out)))
    assert Thing().work(1) == 2  # untraced: no span, no hook
    rec.begin_op("op", "k")
    assert Thing().work(3) == 6
    assert Thing.make(2) == [0, 1]
    rec.end_op()
    assert [s.name for s in rec.spans] == ["work", "make"]
    assert seen == [2]
    summary = tracing.summarize(rec)
    assert summary["layer_calls"] == {"work": 1, "make": 1}


def test_summary_self_time_excludes_children():
    rec = tracing.Recorder()
    rec.spans = [
        tracing.Span("result.serialize", 0.0, 1.0, -1, "op", 0),
        tracing.Span("result.collect", 0.2, 0.6, 0, "op", 0),
    ]
    summary = tracing.summarize(rec)
    assert summary["layer_self_ms"]["result.serialize"] == pytest.approx(600.0)
    assert summary["per_op"]["op"]["collect_ms"] == pytest.approx(400.0)


# -- ingest_merge and the pipeline author ----------------------------------------------


def test_ingest_loops_are_identical_and_model_follows_execution(tmp_path):
    wl = workloads.Ingest(6, str(tmp_path))
    client = wl.client(0, "127.0.0.1", 1)
    before = dict(client.target)
    ops = [client.next_op() for _ in range(1 + 2 * 11)]  # login, then two loops
    kinds = [op.kind for op in ops[1:]]
    assert kinds[:11] == kinds[11:] == ["put", "put", "put", "copy", "copy", "copy", "merge",
                                        "put", "bulk_bind", "copy_reissue", "delete"]
    assert client.mid_cycle() is False
    # planning does not change the model; only a statement that ran does
    assert client.target == before


def test_pipeline_client_runs_whole_passes():
    asked = []

    class Control:
        def ask(self, cmd, timeout):
            asked.append(cmd)
            return {"stage": cmd.split(" ", 1)[1], "rows": 3}

    client = workloads.Ingest(1, "unused").client(2, "127.0.0.1", 1, Control())
    assert isinstance(client, workloads.PipelineClient)
    ops = [client.next_op() for _ in range(len(workloads.PIPELINE_STAGES))]
    assert client.mid_cycle() is False
    for op in ops:
        rows, _nbytes = op.run()
        assert op.check(rows) and op.rows(rows) == 3
    assert asked == ["stage " + s for s in workloads.PIPELINE_STAGES]
    assert {op.batch for op in ops} == {0}
    client.next_op()
    assert client.mid_cycle() is True


def test_odd_ingest_sessions_bulk_insert_first(tmp_path):
    wl = workloads.Ingest(6, str(tmp_path))
    even, odd = wl.client(0, "127.0.0.1", 1), wl.client(1, "127.0.0.1", 1)
    kinds = [[op.kind for op in (c.next_op() for _ in range(12))][1:] for c in (even, odd)]
    assert kinds[1] == ["put", "bulk_bind", "put", "put", "put", "copy", "copy", "copy",
                        "merge", "copy_reissue", "delete"]
    assert sorted(kinds[0]) == sorted(kinds[1])


def test_ingest_pass_ms_is_the_mean_pass():
    stages = workloads.PIPELINE_STAGES
    samples = [{"cls": "batch", "batch": b, "ms": ms} for b, ms in
               [(0, 1.0), (0, 2.0), (0, 3.0), (1, 2.0), (1, 2.0), (1, 4.0),
                (2, 1.0), (2, 1.0), (2, 1.0), (3, 5.0)]]
    assert len(stages) == 3
    # pass 3 is incomplete and left out: mean of 6.0, 8.0 and 3.0
    assert workloads.Ingest.pass_ms(samples) == pytest.approx((6.0 + 8.0 + 3.0) / 3)


def test_per_second_sums_client_rates():
    samples = [{"client": 0, "rows": 2}, {"client": 0, "rows": 4}, {"client": 1, "rows": 3}]
    spans = {0: 2.0, 1: 3.0, 2: 5.0}
    assert stats.per_second(samples, spans) == pytest.approx(2 / 2.0 + 1 / 3.0)
    assert stats.per_second(samples, spans, lambda s: s["rows"]) == pytest.approx(3.0 + 1.0)


def test_drive_stops_cycle_clients_between_cycles():
    import run

    class Sess:
        trace = None

    class Client:
        def __init__(self, ci, cycles, cycle_len):
            self.ci, self.cycles, self.sess, self.n = ci, cycles, Sess(), 0
            self.cycle_len = cycle_len

        def mid_cycle(self):
            return self.n % self.cycle_len != 0

        def next_op(self):
            self.n += 1
            return workloads.Op("k", "read", lambda: (time.sleep(0.01) or [], 0))

    plain, cyc = Client(0, False, 1), Client(1, True, 25)
    rec = run.Samples()
    spans = run.drive([plain, cyc], 0.05, rec, "run", False)
    phases = {ci: [s["phase"] for s in rec.samples if s["client"] == ci] for ci in (0, 1)}
    # the cycle client recorded to the end of the cycle in flight at the deadline
    assert phases[1].count("run") % 25 == 0 and phases[1].count("run") >= 25
    # the plain one recorded until the deadline, then kept the load up unrecorded
    n_run = phases[0].count("run")
    assert 0 < n_run < 25 and phases[0] == ["run"] * n_run + ["tail"] * (len(phases[0]) - n_run)
    assert phases[0].count("tail") > 0
    assert 0.05 <= spans[0] < spans[1]
