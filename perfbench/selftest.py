"""Self-tests of the benchmark harness.

    python3 perfbench/selftest.py            # all checks, about ten minutes
    python3 perfbench/selftest.py --fast     # generator and bare-tree checks only

Checks that:
  - the same seed gives byte-identical shards and manifest, and another
    seed gives different ones;
  - a tree holding only BENCHMARK.json and perfbench/ makes run.py fail
    without printing a result;
  - every run prints exactly the metrics BENCHMARK.json lists for its
    trace mode, each with its unit, and no failed pass;
  - a truncated export_tokens.bin, and an export that differs from the
    committed default-seed result, are counted as failed passes.
"""

import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(HERE, ".work", "selftest")
sys.path.insert(0, HERE)

import gen  # noqa: E402

failures = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def same_tree(a, b):
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


def test_generator():
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    for name, w in workloads.items():
        cfg = dict(w["generator"], docs=300)
        dirs = {}
        for tag, seed in (("a", 5), ("b", 5), ("c", 6)):
            d = os.path.join(SCRATCH, name, tag, "wet")
            gen.generate(cfg, seed, d)
            dirs[tag] = os.path.dirname(d)
        check(same_tree(os.path.join(dirs["a"], "wet"), os.path.join(dirs["b"], "wet"))
              and filecmp.cmp(os.path.join(dirs["a"], "manifest.jsonl"),
                              os.path.join(dirs["b"], "manifest.jsonl"), shallow=False),
              f"{name}: the same seed gives byte-identical shards and manifest")
        differ = [n for n in os.listdir(os.path.join(dirs["a"], "wet"))
                  if not filecmp.cmp(os.path.join(dirs["a"], "wet", n),
                                     os.path.join(dirs["c"], "wet", n), shallow=False)]
        check(len(differ) == len(os.listdir(os.path.join(dirs["a"], "wet"))),
              f"{name}: another seed gives different shards")
        check(len(os.listdir(os.path.join(dirs["a"], "wet"))) >= min(4, os.cpu_count() or 1),
              f"{name}: at least as many shards as Spark task threads")


def test_bare_tree():
    bare = os.path.join(SCRATCH, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".build", ".work", "__pycache__"))
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "crawl_fresh",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    check(r.returncode != 0 and not r.stdout.strip(),
          "a tree without graft's sources fails without printing a result")


def run(workload, trace, *extra, seed=1):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", str(trace), *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        return None
    return json.loads(r.stdout.strip().splitlines()[-1])


def test_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            if trace == 1 and w["name"] != bench["workloads"][0]["name"]:
                continue
            res = run(w["name"], trace)
            if res is None:
                check(False, f"{w['name']} trace {trace}: run succeeds")
                continue
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {n: v.get("unit") for n, v in res["metrics"].items()}
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{w['name']} trace {trace}: result has exactly its four keys")
            check(got == want, f"{w['name']} trace {trace}: every {key} metric, with its unit")
            check(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                  f"{w['name']} trace {trace}: every value is a number")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{w['name']} trace {trace}: no failed pass on the unmodified tree")


def test_tampering():
    res = run("crawl_fresh", 0, "--tamper", "truncate_export")
    check(res is not None and not res["correct"] and res["failed"] == res["attempted"] >= 1,
          "a truncated export_tokens.bin counts as a failed pass")
    res = run("crawl_fresh", 0, "--tamper", "perturb_expected")
    check(res is not None and not res["correct"] and res["failed"] == res["attempted"] >= 1,
          "an export differing from the committed default-seed result counts as a failed pass")


if __name__ == "__main__":
    shutil.rmtree(SCRATCH, ignore_errors=True)
    test_generator()
    test_bare_tree()
    if "--fast" not in sys.argv:
        test_metrics()
        test_tampering()
    shutil.rmtree(SCRATCH, ignore_errors=True)
    print(f"{len(failures)} failed" if failures else "all passed")
    sys.exit(1 if failures else 0)
