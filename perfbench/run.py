"""graft benchmark: the nine-step crawl pipeline on a seeded WET corpus.

    python3 perfbench/run.py --workload crawl_fresh --seed 3 --seconds 20 --trace 0

Run from the repository root. It builds graft from source when needed
(perfbench/build.py), generates the workload's corpus from the seed
(perfbench/gen.py, settings in perfbench/workloads.json), starts one JVM
that sets up Spark, makes one untimed warm-up pass and then passes the
corpus through `core.Pipeline.run` again and again for `--seconds`,
checking every pass. The last line of stdout is one JSON object:
`correct`, `attempted` (passes), `failed` (passes with a failed check)
and `metrics`: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. A traced run also writes
perfbench/.work/<workload>/spans.json.

For the harness self-tests, `--tamper truncate_export` cuts two bytes
off each pass's export_tokens.bin before the checks, and `--tamper
perturb_expected` alters the committed default-seed export sha256.
`--record-expected` stores the pass's row counts and export sha256 as
the default seed's expected values in perfbench/expected.json.
"""

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

JVM_LIMIT_S = 165


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tamper", choices=["truncate_export", "perturb_expected"], default=None)
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()

    try:
        build.ensure_built()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    # set-up starts after the build, which may take minutes on a fresh checkout
    t0_ms = int(time.time() * 1000)

    wl = load("workloads.json")
    if a.workload not in wl["workloads"]:
        print(f"[perfbench] unknown workload {a.workload}", file=sys.stderr)
        return 2
    w = wl["workloads"][a.workload]
    seed = wl["default_seed"] if a.seed is None else a.seed
    seconds = a.seconds
    if seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]

    work = os.path.join("perfbench", ".work", a.workload)
    os.makedirs(work, exist_ok=True)
    for f in ("result.json", "spans.json"):
        if os.path.exists(os.path.join(work, f)):
            os.remove(os.path.join(work, f))
    gen.generate(w["generator"], seed, os.path.join(work, "wet"))
    print(f"[perfbench] generated in {time.time() - t0_ms / 1000:.1f} s", file=sys.stderr)

    p = w["pipeline"]
    cores = max(1, min(4, os.cpu_count() or 1))
    args = ["--work", work, "--seconds", str(seconds), "--trace", str(a.trace),
            "--tokenizer", p["tokenizer"], "--vocab-size", str(p["vocab_size"]),
            "--seq-len", str(p["seq_len"]), "--cores", str(cores), "--t0-ms", str(t0_ms)]
    expected = load("expected.json").get(a.workload) if os.path.exists(
        os.path.join(HERE, "expected.json")) else None
    if expected and seed == expected["seed"] and not a.record_expected:
        sha = expected["export_sha256"]
        if a.tamper == "perturb_expected":
            sha = ("1" if sha[0] == "0" else "0") + sha[1:]
        args += ["--expect-rows", ",".join(f"{k}={v}" for k, v in expected["rows"].items()),
                 "--expect-sha256", sha]
    if a.tamper == "truncate_export":
        args += ["--tamper", a.tamper]
    log_path = os.path.join(work, "jvm.log")
    rc = build.run_jvm(build.java(work) + ["graftbench.Main"] + args, log_path, JVM_LIMIT_S)
    if rc is None:
        print(f"[perfbench] JVM passed {JVM_LIMIT_S}s; see {log_path}", file=sys.stderr)
        return 3
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        print(f"[perfbench] JVM exited with {rc}", file=sys.stderr)
        return 3
    with open(result_path) as f:
        result = json.load(f)
    with open(log_path) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    rows = dict(kv.split("=") for kv in result.pop("rows").split(","))
    sha = result.pop("export_sha256")
    print(f"[perfbench] {a.workload} seed {seed}: rows {rows} export sha256 {sha}",
          file=sys.stderr)
    if a.record_expected:
        path = os.path.join(HERE, "expected.json")
        allx = load("expected.json") if os.path.exists(path) else {}
        allx[a.workload] = {"seed": seed, "rows": {k: int(v) for k, v in rows.items()},
                            "export_sha256": sha}
        with open(path, "w") as f:
            json.dump(allx, f, indent=2, sort_keys=True)
            f.write("\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
