"""Self-tests of the benchmark, run by `python3 perfbench/run.py --selftest`.

They use the harness at tiny sizes (seconds per run) and check:
  - BENCHMARK.json: metric names match [A-Za-z0-9_.-]+, at most 16
    end-to-end and 128 per-layer metrics, units and bounds in range;
  - the traced run emits exactly the declared per-layer metrics, with spans
    carrying run ids and self times;
  - generator determinism: the same seed gives the same input digests, another
    seed different ones;
  - oracle path substitution: every parquet the dag_* oracles read lies under
    the run's own input directory, and exists;
  - the oracle compare passes on the real outputs and fails on a perturbed one;
  - a deliberately corrupted input makes every timed run count as failed.
Exit status 0 when every check passes.
"""
import glob
import json
import os
import re

FAILURES = []


def check(ok, what):
    print(f"{'ok  ' if ok else 'FAIL'} {what}")
    if not ok:
        FAILURES.append(what)


def spec_checks(spec):
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    e2e, layer = spec["end_to_end"], spec["per_layer"]
    names = [m["name"] for m in e2e + layer] + [w["name"] for w in spec["workloads"]]
    check(all(name.match(n) for n in names), "every metric and workload name is well formed")
    check(len(set(names)) == len(names), "names are unique")
    check(1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128,
          f"{len(e2e)} end-to-end and {len(layer)} per-layer metrics are within 16 and 128")
    check(all(unit.match(m["unit"]) for m in e2e + layer), "units are well formed")
    check(all(0 < m["bound"] <= 0.25 for m in e2e), "bounds are within (0, 0.25]")
    check(any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
              for m in e2e), "setup_s is an end-to-end metric in seconds, lower is better")
    check(2 <= len(spec["workloads"]) <= 8 and 1 <= spec["run_seconds"] <= 60,
          "workload count and run_seconds are within the contract")


def compare_checks(run):
    import pandas as pd
    a = pd.DataFrame({"k": ["x", "y", None], "v": [1.0, 2.5, None], "n": [1, 2, 3]})
    check(run.frames_equal(a, a.iloc[::-1].copy()) is None, "compare ignores row order")
    noisy = a.copy()
    noisy["v"] = noisy["v"] * (1 + 1e-13)
    check(run.frames_equal(a, noisy) is None, "compare tolerates float noise in the last bits")
    bad = a.copy()
    bad.loc[1, "n"] = 7
    check(run.frames_equal(a, bad) is not None, "compare rejects a changed value")
    check(run.frames_equal(a, a.iloc[:2]) is not None, "compare rejects a missing row")


def harness(run, cp_file, workload, seed, trace=False, corrupt=False):
    work = os.path.join(run.WORK, "selftest", f"{workload}-{seed}{'-corrupt' if corrupt else ''}")
    extra = ["--sizes", "tiny"] + (["--corrupt", "1"] if corrupt else [])
    result = run.run_harness(cp_file, work, workload, seed, 1, trace, extra)
    return work, result


def digests(result):
    return {t["name"]: t["digest"] for t in result["inputs"]}


def workload_checks(run, cp_file, spec, workload):
    work, traced = harness(run, cp_file, workload, 7, trace=True)
    passed, bad, msgs = run.run_oracles(traced, work)
    for m in msgs:
        print("     " + m)
    check(bad == 0 and passed == len(traced["checks"]) > 0,
          f"{workload}: {passed} DuckDB oracle checks pass")
    check(traced["row_gate"]["ok"], f"{workload}: row floors hold")
    its = traced["iterations"]
    check(all(i["failed"] == 0 and i["error"] is None for i in its),
          f"{workload}: timed runs reproduce the checked digests")
    declared = {m["name"] for m in spec["per_layer"]}
    check(set(traced["per_layer"]) == declared,
          f"{workload}: the traced run emits exactly the {len(declared)} per-layer metrics")
    steps = [k for k in traced["per_layer"] if k.startswith("step.") and traced["per_layer"][k] > 0]
    check(len(steps) > 0 and traced["per_layer"]["exec.jobs"] > 0,
          f"{workload}: jobs are attributed to {len(steps)} step metrics")
    with open(os.path.join(work, "spans.jsonl")) as f:
        spans = [json.loads(l) for l in f if l.strip()]
    check(spans and all("run_id" in s and "self_ms" in s and s["end_ns"] >= s["start_ns"]
                        for s in spans), f"{workload}: {len(spans)} spans with run ids and self times")

    paths = [p for c in traced["checks"] for p in re.findall(r"read_parquet\('([^']+)'\)", c["sql"])]
    paths += list(traced["duckdb_views"].values())
    inputs = os.path.join(work, "inputs")
    check(all(p.startswith(inputs) and glob.glob(p) for p in paths),
          f"{workload}: all {len(paths)} oracle inputs are the run's own files")

    _, corrupted = harness(run, cp_file, workload, 7, corrupt=True)
    check(digests(corrupted) == digests(traced), f"{workload}: the same seed gives the same inputs")
    failed = sum(i["failed"] for i in corrupted["iterations"])
    check(failed > 0, f"{workload}: a corrupted input fails {failed} timed steps")

    _, other = harness(run, cp_file, workload, 8)
    changed = [n for n, d in digests(other).items() if digests(traced).get(n) != d]
    check(len(changed) > 0, f"{workload}: another seed changes {len(changed)} input tables")


def main(run, cp_file):
    spec = run.load_spec()
    spec_checks(spec)
    compare_checks(run)
    for w in ("npo_daily", "llm_curation"):
        workload_checks(run, cp_file, spec, w)
    print(f"== {len(FAILURES)} failed ==")
    return 1 if FAILURES else 0
