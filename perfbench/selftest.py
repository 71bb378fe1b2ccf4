"""Self-test of the benchmark at tiny input sizes (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Run from the root of a checkout.  Checks that:

- the metric names, units and directions in ``run.py`` are the ones in
  ``BENCHMARK.json``, and every listed workload is one ``run.py`` knows;
- every workload runs clean at ``--size tiny`` (``registry_mix`` has one
  size): ``correct`` true, no failed operation, and the printed metric names and units are exactly the
  end-to-end ones of ``BENCHMARK.json`` (the per-layer ones with
  ``--trace 1``);
- a deliberately corrupted CSV row is reported as a failed operation;
- in a directory holding only ``BENCHMARK.json`` and the benchmark, the
  command exits non-zero without printing a result.

Every check runs even when an earlier one fails; the exit code is 1 if any
failed.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import run  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _cli(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(p: subprocess.CompletedProcess) -> dict:
    if p.returncode != 0:
        raise AssertionError(f"exit {p.returncode}: {p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def _names_units(metrics: dict) -> list[tuple[str, str]]:
    return sorted((k, v["unit"]) for k, v in metrics.items())


def check_spec(spec: dict) -> None:
    for key, specs in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        want = [(m["name"], m["unit"], m["better"]) for m in spec[key]]
        assert want == list(specs), f"{key} of BENCHMARK.json and run.py differ"
    unknown = {w["name"] for w in spec["workloads"]} - set(run.WORKLOADS)
    assert not unknown, f"workloads run.py does not know: {unknown}"


def _notes(p: subprocess.CompletedProcess) -> str:
    return "\n".join(line for line in p.stderr.splitlines() if line.startswith("#"))


def check_clean_run(spec: dict, workload: str) -> None:
    e2e = sorted((m["name"], m["unit"]) for m in spec["end_to_end"])
    p = _cli(workload, 0)
    r = _result(p)
    assert r["correct"] and r["failed"] == 0 and r["attempted"] > 0, (workload, r, _notes(p))
    assert _names_units(r["metrics"]) == e2e, (workload, r["metrics"])
    assert all(v["value"] > 0 for v in r["metrics"].values()), (workload, r["metrics"])
    print(f"ok  {workload}: clean, end-to-end metrics as declared", flush=True)


def check_traced_run(spec: dict) -> None:
    layers = sorted((m["name"], m["unit"]) for m in spec["per_layer"])
    p = _cli("backfill_mutable", 1)
    r = _result(p)
    assert r["correct"] and r["failed"] == 0, (r, _notes(p))
    assert _names_units(r["metrics"]) == layers
    print("ok  backfill_mutable --trace 1: per-layer metrics as declared", flush=True)


def check_corrupted_row() -> None:
    """Cut one data row of one CSV in half before the inject stage of the
    first repetition; the run must count a failed operation."""
    import backfill

    orig = backfill.Backfill._inject
    done = []

    def corrupting(self, spark, jsonl_dir, csv_dir, span, out):
        if not done:
            for table in self.tables:
                for path in self._files(jsonl_dir, csv_dir, table):
                    with open(path) as fh:
                        lines = fh.readlines()
                    if len(lines) > 1:
                        lines[1] = lines[1][: len(lines[1]) // 2] + "\n"
                        with open(path, "w") as fh:
                            fh.writelines(lines)
                        done.append(path)
                        break
                if done:
                    break
        return orig(self, spark, jsonl_dir, csv_dir, span, out)

    backfill.Backfill._inject = corrupting
    buf = io.StringIO()
    try:
        with contextlib.redirect_stdout(buf):
            run.main(["--workload", "backfill_mutable", "--seed", "7", "--seconds", "0", "--size", "tiny"])
    finally:
        backfill.Backfill._inject = orig
    r = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert done, "no CSV row to corrupt"
    assert r["failed"] >= 1 and not r["correct"], r
    print(f"ok  corrupted CSV row counted: failed={r['failed']} of {r['attempted']}", flush=True)


def check_bare_directory() -> None:
    bare = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "registry_mix", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
        assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
        print("ok  bare directory: exit", p.returncode, "and no result", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    """Run every check, also after one fails; exit 1 if any failed."""
    spec = _spec()
    check_spec(spec)
    print("ok  BENCHMARK.json matches run.py", flush=True)
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    checks = [(check_bare_directory, ())]
    checks += [(check_clean_run, (spec, w)) for w in run.WORKLOADS]
    checks += [(check_traced_run, (spec,)), (check_corrupted_row, ())]
    failed = []
    for fn, args in checks:
        try:
            fn(*args)
        except AssertionError as exc:
            failed.append(fn.__name__)
            print(f"FAIL {fn.__name__}{args[1:]}: {str(exc)[:3000]}", flush=True)
    print(f"selftest failed: {failed}" if failed else "selftest passed")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
