"""Property test for the tiered state-store listing (sinks.state_dirs /
read path math): under ANY valid interleaving of batch appends and
incremental compactions — minor folds, leveled RUN folds (contiguous,
possibly mid-list), full majors, and crash variants that commit a fold
but skip all GC — the listing must cover every committed batch id
strictly below the reader's batch EXACTLY once (inside one live
segment's folded range or as a live batch dir) and never expose a
consumed batch dir, a superseded segment, or a same/future batch. Pure
directory math, no SparkSession needed, so hypothesis can sweep
hundreds of histories cheaply. Segments carry explicit-range names
(``compact-<seg>-from-<lo>-upto-<hi>``)."""

from __future__ import annotations

import os

from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_vortex_spark.streaming.sinks import (
    _compact_watermark,
    _live_segments,
    _seg_ranges,
    batch_dirs,
    state_dirs,
)


class _Layout:
    """On-disk layout builder that tracks its own ground truth
    (committed batch ids; each created segment's folded range) fully
    independently of the code under test."""

    def __init__(self, base: str):
        self.base = base
        os.makedirs(base, exist_ok=True)
        self.committed: set[int] = set()
        self.live_batches: list[int] = []
        self.live: list[tuple[str, int, int]] = []  # (name, lo, hi) range order
        self.on_disk: dict[str, tuple[int, int]] = {}  # incl. superseded
        self.seg = 0
        self.next_id = 0

    # -- primitive steps ---------------------------------------------------
    def batch(self):
        os.makedirs(os.path.join(self.base, f"batch-{self.next_id:08d}"))
        self.committed.add(self.next_id)
        self.live_batches.append(self.next_id)
        self.next_id += 1

    def _watermark(self) -> int:
        return max([hi for _, hi in self.on_disk.values()], default=-1)

    def _commit_fold(self, name: str, lo: int, hi: int, pos: int, n_segs: int,
                     eat_batches: bool, crash: bool):
        """Fold self.live[pos:pos+n_segs] (+ live batches if
        eat_batches) into one new segment dir; crash = skip all GC."""
        os.makedirs(os.path.join(self.base, name))
        folded = self.live[pos : pos + n_segs]
        if not crash:
            for s, _lo, _hi in folded:
                os.rmdir(os.path.join(self.base, s))
                del self.on_disk[s]
            if eat_batches:
                for b in self.live_batches:
                    os.rmdir(os.path.join(self.base, f"batch-{b:08d}"))
        self.on_disk[name] = (lo, hi)
        self.live[pos : pos + n_segs] = [(name, lo, hi)]
        if eat_batches:
            self.live_batches.clear()  # consumed either way (crash leaves garbage)
        self.seg += 1

    # -- ops ---------------------------------------------------------------
    def _from_name(self, lo: int, hi: int) -> str:
        return f"compact-{self.seg:08d}-from-{lo:08d}-upto-{hi:08d}"

    def minor(self, crash: bool):
        if not self.live_batches:
            return
        lo, hi = self._watermark() + 1, max(self.live_batches)
        self._commit_fold(self._from_name(lo, hi), lo, hi,
                          len(self.live), 0, True, crash)

    def tailfold(self, n: int, crash: bool):
        """Suffix run of n live segments + live batches — the shape
        production's leveled trigger emits."""
        if not self.live_batches and not n:
            return
        n = min(n, len(self.live))
        if self.live_batches:
            hi = max(self.live_batches)
        elif n:
            hi = self.live[-1][2]
        else:
            return
        lo = self.live[len(self.live) - n][1] if n else self._watermark() + 1
        self._commit_fold(self._from_name(lo, hi), lo, hi,
                          len(self.live) - n, n, True, crash)

    def runfold(self, i: int, n: int, crash: bool):
        """Contiguous run of live segments only, possibly MID-LIST —
        broader than production emits; the reader math must hold."""
        if not self.live:
            return
        i = i % len(self.live)
        n = max(1, min(n, len(self.live) - i))
        lo, hi = self.live[i][1], self.live[i + n - 1][2]
        self._commit_fold(self._from_name(lo, hi), lo, hi, i, n, False, crash)

    def major(self, crash: bool):
        if not (self.live or self.live_batches):
            return
        hi = max([h for _, _l, h in self.live] + self.live_batches)
        self._commit_fold(self._from_name(0, hi), 0, hi,
                          0, len(self.live), True, crash)


OPS = [
    "batch", "minor", "major", "minor_crash", "major_crash",
    "tailfold", "tailfold_crash", "runfold", "runfold_crash",
]


@settings(max_examples=300, deadline=None)
@given(
    history=st.lists(
        st.tuples(st.sampled_from(OPS), st.integers(0, 7), st.integers(0, 7)),
        min_size=1,
        max_size=30,
    ),
)
def test_state_listing_covers_every_earlier_batch_exactly_once(
    tmp_path_factory, history
):
    base = str(tmp_path_factory.mktemp("tiered"))
    lay = _Layout(base)
    for op, i, n in history:
        crash = op.endswith("_crash")
        kind = op.removesuffix("_crash")
        if kind == "batch":
            lay.batch()
        elif kind == "minor":
            lay.minor(crash)
        elif kind == "tailfold":
            lay.tailfold(n, crash)
        elif kind == "runfold":
            lay.runfold(i, n, crash)
        else:
            lay.major(crash)

    committed, next_id = lay.committed, lay.next_id

    def _segment_cover() -> list[int]:
        # LIVE segments only (containment supersession, even while
        # crash-leftover dirs are still on disk); each contributes its
        # full explicit folded range
        ranges = _seg_ranges(base)
        ids: list[int] = []
        for s in _live_segments(base):
            lo, hi = ranges[s]
            ids.extend(range(lo, hi + 1))
        return ids

    # the next micro-batch (id = next_id) must see ALL committed
    # batches exactly once
    covered = list(_segment_cover())
    for p in state_dirs(base, next_id):
        name = os.path.basename(p)
        if name.startswith("batch-"):
            covered.append(int(name.split("-", 1)[1]))
    assert sorted(covered) == sorted(committed), (
        f"listing covers {sorted(covered)} but committed {sorted(committed)}"
    )

    # the live listing the reader takes must be exactly the builder's
    # ground-truth live set (no superseded segment survives, none lost)
    assert sorted(os.path.basename(s) for s in _live_segments(base)) == sorted(
        name for name, _lo, _hi in lay.live
    )

    # no listing for the CURRENT batch ever exposes a consumed dir, a
    # superseded segment, or a same/future batch id
    watermark = _compact_watermark(base)
    live = set(_live_segments(base))
    for p in state_dirs(base, next_id):
        name = os.path.basename(p)
        if name.startswith("batch-"):
            bid = int(name.split("-", 1)[1])
            assert watermark < bid < next_id
        else:
            assert p in live, f"superseded segment exposed: {name}"

    # a retry of any LIVE batch b sees exactly the ids < b
    for b in sorted(committed):
        if b <= watermark:
            continue  # folded: no longer retryable by contract
        seen = list(_segment_cover())
        for p in state_dirs(base, b):
            name = os.path.basename(p)
            if name.startswith("batch-"):
                seen.append(int(name.split("-", 1)[1]))
        assert sorted(seen) == sorted(x for x in committed if x < b), b


def test_segment_over_retryable_batch_fails_loudly(tmp_path):
    base = str(tmp_path / "bad")
    os.makedirs(os.path.join(base, "compact-00000000-from-00000000-upto-00000003"))
    try:
        state_dirs(base, 3)
    except ValueError as e:
        assert "still retryable" in str(e)
    else:
        raise AssertionError("expected ValueError for upto >= before")


def _simulate_policy(batch_spans):
    """Drive `_pick_fold_run` exactly as `compact_dataset_incremental`
    does (one new pseudo-segment per pass, folded with a tail run once
    the post-pass count would exceed the cap), tracking the live spans,
    the full-prefix ("giant") fold count, and total spans rewritten
    (the write amplification)."""
    from duckdb_vortex_spark.streaming.sinks import _fold_cap, _pick_fold_run

    spans: list[int] = []  # live segment spans, range order
    total = 0
    giant_folds = 0
    rewritten = 0
    max_live = 0
    for b in batch_spans:
        total += b
        run = _pick_fold_run(spans, b)
        if run:
            folded = sum(spans[len(spans) - run :]) + b
            rewritten += folded
            if run == len(spans):
                giant_folds += 1
            spans = spans[: len(spans) - run] + [folded]
        else:
            rewritten += b  # the new minor's own write
            spans.append(b)
        assert len(spans) <= _fold_cap(total), (spans, total)
        assert sum(spans) == total  # coverage: every batch in exactly one segment
        max_live = max(max_live, len(spans))
    return total, giant_folds, rewritten, max_live


@settings(max_examples=60, deadline=None)
@given(batch_spans=st.lists(st.integers(1, 3), min_size=50, max_size=400))
def test_leveled_policy_asymptotics_auto(batch_spans):
    """The documented O(log n) guarantee, which only a cap that grows
    with history can deliver (under any CONSTANT cap K, cap-forced tail
    refolds make total work Θ(n^(1+1/K))). With the cap
    max(4, ceil(log2(total))) the policy must (a) keep the live count
    within it after EVERY pass, (b) re-fold the full prefix only
    O(log total) times — an all-fold policy does it every pass past the
    cap — and (c) keep total spans rewritten (the write amplification)
    within O(total · log total), not an all-fold's O(total²/cap)."""
    import math

    total, giant_folds, rewritten, _ = _simulate_policy(batch_spans)
    # (b) full-prefix folds are geometrically rare: each one grows the
    # giant by >= (1 + 1/2 - epsilon), so their count is logarithmic
    # in total span (+ slack for the warm-up)
    log_bound = math.log(max(total, 2), 1 + 1 / 3) + 4
    assert giant_folds <= log_bound, (giant_folds, log_bound, total)
    # (c) write amplification is O(total · log total): every row sits
    # in at most ~log2(total) levels over its lifetime
    # (measured headroom ~3× at the worst hypothesis point)
    amp_bound = total * (math.log(max(total, 2), 1.5) + 4)
    assert rewritten <= amp_bound, (rewritten, amp_bound, total)


def test_policy_amplification_contrast_at_depth():
    """Deterministic large-scale pin of the numbers the docstrings
    quote: at 20k/100k unit batches each row is rewritten ~7×/~9× and
    the live listing grows only to ~log2(total) — where a constant cap
    of 4 would rewrite each row ~74×/~344×. Pure simulation,
    O(n·levels) Python, no Spark."""
    for n, rw_hi, live_hi in ((20_000, 8, 16), (100_000, 10, 18)):
        _, _, rewritten, max_live = _simulate_policy([1] * n)
        assert rewritten / n <= rw_hi, (n, rewritten / n)
        assert max_live <= live_hi, (n, max_live)
