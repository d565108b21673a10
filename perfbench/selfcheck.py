"""Self-checks of the benchmark itself on small inputs:

* BENCHMARK.json names exactly the metrics ``run.py`` emits, with the same
  units;
* an untraced and a traced run of each workload emit every metric with its
  unit;
* a deliberately wrong expected output drives ``failed`` and ``error_ratio``
  above 0, so the output check can fail.

    python3 perfbench/selfcheck.py      # a few minutes; exits 1 on failure
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run, workloads  # noqa: E402
from perfbench.spark_env import ROOT  # noqa: E402


class WrongRealPages(workloads.RealPages):
    def generate(self, spark, seed):
        super().generate(spark, seed)
        self.expected[0] = ("wrong title", "wrong text", True)


class WrongCrawlSink(workloads.CrawlSink):
    def generate(self, spark, seed):
        super().generate(spark, seed)
        url = min(self.expected)
        self.expected[url] = ("wrong title", "wrong text")


#: real_pages with one copy of each page; crawl_sink at its benchmark size
#: (smaller tables leave manifest buckets without a root row, where the
#: resume pass fails: see README.md)
TINY = {
    "real_pages": (lambda: workloads.RealPages(copies=1), lambda: WrongRealPages(copies=1)),
    "crawl_sink": (workloads.CrawlSink, WrongCrawlSink),
}


def run_once(name: str, factory, trace: int) -> tuple[dict, dict]:
    workloads.WORKLOADS[name] = factory
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        run.main(["--workload", name, "--seed", "7", "--seconds", "1", "--trace", str(trace)])
    lines = out.getvalue().strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main() -> int:
    problems = []
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for section, emitted in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in spec[section]}
        if declared != emitted:
            problems.append(f"BENCHMARK.json {section} differs from run.py: {declared} vs {emitted}")

    for name, (good, wrong) in TINY.items():
        ratio, result = run_once(name, wrong, trace=0)
        if set(result["metrics"]) != set(run.END_TO_END):
            problems.append(f"{name}: end-to-end metrics {sorted(result['metrics'])}")
        if result["failed"] == 0 or result["correct"] or ratio["error_ratio"]["value"] <= 0:
            problems.append(f"{name}: a wrong expected output went undetected: {result}")
        _, traced = run_once(name, good, trace=1)
        if set(traced["metrics"]) != set(run.PER_LAYER) or not traced["correct"]:
            problems.append(f"{name}: traced run {traced}")
        units = {**run.END_TO_END, **run.PER_LAYER}
        for res in (result, traced):
            for metric, entry in res["metrics"].items():
                if entry.get("unit") != units[metric] or not isinstance(entry.get("value"), float):
                    problems.append(f"{name}: {metric} emitted as {entry}")
    for p in problems:
        print("FAIL", p)
    print("selfcheck:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
