"""The benchmark's own checks: a run whose outputs disagree with the
oracle counts as failed and gives no timing.

    python3 -m pytest perfbench/ -q -p no:cacheprovider

The crawl check is exercised on a small world with a stand-in engine
that replays the oracle's fetches (no Spark); the end-to-end test runs
the real benchmark, in a child process, on a small republish sample
whose expected count is corrupted by one.
"""

from __future__ import annotations

import ast
import json
import re
import subprocess
import sys

import run

sys.path.insert(0, run.ROOT)
import workloads  # noqa: E402


class _ReplayEngine:
    """Answers ``priority_sorted_log`` with the oracle's own dedup'd
    per-host sequences, i.e. a crawl that matches exactly."""

    def __init__(self, host_order: dict[str, list[str]]) -> None:
        self.host_order = host_order

    def priority_sorted_log(self) -> list[tuple[str, str]]:
        return [(h, u) for h in sorted(self.host_order) for u in self.host_order[h]]


def _small_crawl() -> tuple[workloads.CrawlRelist, dict]:
    wl = workloads.CrawlRelist(seed=3)
    wl.registry = workloads.synth.make_registry(3, n_scrape=3)
    wl.n_days = 2
    wl.expect()
    gen = {"docs": wl.n_docs, "good": wl.n_docs, "quarantined": 0, "cases": wl.n_docs}
    out = {"engine": _ReplayEngine(dict(wl.host_order)), "gens": [gen]}
    return wl, out


def test_crawl_check_accepts_the_oracle_crawl():
    wl, out = _small_crawl()
    assert wl.check(out) == []


def test_crawl_check_fails_on_corrupted_expectations():
    wl, out = _small_crawl()
    wl.seen = wl.seen | {"http://portal-0.example/CaseDetail.aspx?CaseID=1"}
    assert any("URL-seen" in p for p in wl.check(out))

    wl, out = _small_crawl()
    host = sorted(wl.host_order)[0]
    wl.host_order[host] = list(reversed(wl.host_order[host]))
    assert any("fetch order" in p for p in wl.check(out))

    wl, out = _small_crawl()
    wl.n_docs += 1
    assert any("documents" in p for p in wl.check(out))


class _CorruptRepublish(workloads.Republish):
    """A small republish whose expected generation-1 insert count is
    one too high."""

    n_cases = 40

    def prepare(self, spark, inputs_dir):
        super().prepare(spark, inputs_dir)
        self.n_changed += 1


def _corrupt_main() -> int:
    workloads.WORKLOADS["republish"] = _CorruptRepublish
    return run.main(["--workload", "republish", "--seed", "5", "--seconds", "0"])


def test_corrupted_expected_value_counts_the_run_as_failed():
    # a child process: the benchmark points temp dirs at its own
    # scratch and stops the JVM, which must not reach this process
    code = "import sys, test_perfbench as t; sys.exit(t._corrupt_main())"
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=run.HERE,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 1, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert (result["attempted"], result["failed"]) == (1, 1)
    assert result["metrics"]["run_s"]["value"] is None
    # the run failed on the corrupted count and on nothing else
    failures = re.findall(r"^perfbench: run 1 failed: (.*)$", proc.stderr, re.M)
    assert len(failures) == 1, proc.stderr[-2000:]
    problems = ast.literal_eval(failures[0])
    assert len(problems) == 1, problems
    m = re.fullmatch(r"gen1: inserted (\d+) != changed (\d+)", problems[0])
    assert m is not None, problems
    assert int(m[2]) == int(m[1]) + 1
