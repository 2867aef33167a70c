"""How a repetition is counted: a raise or a wrong digest is a failure,
and a raise skips the check (no Spark; the session is a stub)."""

from types import SimpleNamespace

from perfbench.run import Run

EXPECTED = {"triples": {"count": 3, "hash": "a"}}


class StubSpark:
    def __init__(self):
        tracker = SimpleNamespace(getJobIdsForGroup=lambda group: [])
        self.sparkContext = SimpleNamespace(statusTracker=lambda: tracker)
        self.catalog = SimpleNamespace(clearCache=lambda: None)


class StubWorkload:
    def __init__(self, rep_raises=False, check=lambda: EXPECTED):
        self.rep_raises, self._check = rep_raises, check
        self.checks = 0

    def prepare(self):
        pass

    def rep(self):
        if self.rep_raises:
            raise RuntimeError("write failed")

    def check(self):
        self.checks += 1
        return self._check()


def run_with(wl) -> Run:
    run = Run(SimpleNamespace(), StubSpark(), wl, {"expected": EXPECTED},
              corpus_s=0.0)
    run.timed_rep()
    return run


def test_good_rep_passes():
    run = run_with(StubWorkload())
    assert (run.attempted, run.failed) == (1, 0)
    assert len(run.walls) == len(run.cpu_s) == 1


def test_rep_that_raises_fails_without_checking():
    wl = StubWorkload(rep_raises=True)
    run = run_with(wl)
    assert (run.attempted, run.failed) == (1, 1)
    assert wl.checks == 0
    assert len(run.walls) == 1  # the wall up to the raise is kept


def test_check_that_raises_fails():
    def check():
        raise KeyError("edges")
    run = run_with(StubWorkload(check=check))
    assert (run.attempted, run.failed) == (1, 1)


def test_wrong_digest_fails():
    run = run_with(StubWorkload(check=lambda: {"triples": {"count": 2}}))
    assert (run.attempted, run.failed) == (1, 1)
