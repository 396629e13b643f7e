#!/usr/bin/env python3
"""Smoke test of the benchmark itself: every workload at a tiny size, traced
and untraced, must pass its checks and print every catalogued metric with
its unit; a corrupted expected value must make the command exit non-zero;
a scaling level above nproc must be refused by name. (Layer coverage is
only meaningful at the normal size, where fixed costs do not dominate.)

    python3 perfbench/smoke.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")
WORKLOADS = ["pages_pipeline", "spatial_join", "query_block"]
# the end-to-end metrics each workload prints on its detail line
DETAIL = {
    "pages_pipeline": {"pages_per_sec": "pages/s", "snapshot_cold_s": "s",
                       "snapshot_resume_s": "s", "snapshot_bytes_per_page": "B/page"},
    "spatial_join": {"point_join_s": "s", "generic_join_s": "s"},
    "query_block": {"query_block_s": "s", "query_p50_s": "s", "query_p75_s": "s",
                    "query_samples": "count"},
}
# per-layer metrics each workload must measure itself (the rest may be 0)
OWN_LAYERS = {
    "pages_pipeline": ["pages.generate.s", "pages.geocode.s", "join.pipeline.s",
                       "join.pipeline.candidate_pairs", "pipeline.layer_coverage",
                       "pipeline.pages_per_sec_n", "pipeline.pages_per_sec_4n",
                       "scaling_efficiency_n_to_4n", "snapshot.bytes_written",
                       "snapshot.files_written", "snapshot.read_bytes", "snapshot.resume_jobs"],
    "spatial_join": ["join.point.refine.s", "join.generic.dedupe.s",
                     "join.point.candidate_pairs", "join.generic.refined_pairs",
                     "join.auto.cell_level", "join.auto.est_covering_bytes"],
    "query_block": ["sparkentry.q1_agg.s", "sparkentry.plan_s", "sparkentry.exec_s",
                    "sparkentry.jobs"],
}


def run(*args):
    p = subprocess.run([sys.executable, RUN, "--seed", "3", "--seconds", "2", "--size", "tiny",
                        *args], cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    return p.returncode, lines, p.stderr


def check_catalog(catalog):
    assert set(catalog) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                            "per_layer"}, sorted(catalog)
    names = [m["name"] for m in catalog["end_to_end"] + catalog["per_layer"]]
    assert len(names) == len(set(names)), "metric names repeat"
    assert [w["name"] for w in catalog["workloads"]] == WORKLOADS
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in catalog["end_to_end"])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        catalog = json.load(fh)
    check_catalog(catalog)
    problems = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    for w in WORKLOADS:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            rc, lines, err = run("--workload", w, "--trace", str(trace))
            tag = f"{w} trace={trace}"
            expect(rc == 0, f"{tag}: exit code {rc}")
            if rc != 0:
                sys.stderr.write(err[-3000:])
                continue
            res = json.loads(lines[-1])
            expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{tag}: result keys")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{tag}: every check passed ({res['attempted']} attempted)")
            want = {m["name"]: m["unit"] for m in catalog[group]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{tag}: every {group} metric with its unit")
            if trace:
                for name in OWN_LAYERS[w] + ["jvm.live_heap_peak_mb", "jvm.retained_heap_mb"]:
                    expect(res["metrics"][name]["value"] != 0, f"{tag}: {name} measured")
            detail = json.loads(lines[-2])["end_to_end"]
            for name, unit in DETAIL[w].items():
                expect(detail.get(name, {}).get("unit") == unit, f"{tag}: prints {name} [{unit}]")

    for w in WORKLOADS:
        rc, lines, _ = run("--workload", w, "--trace", "0", "--corrupt-check")
        expect(rc != 0 and not json.loads(lines[-1])["correct"],
               f"{w}: a corrupted expected value exits non-zero (exit {rc})")

    nproc = len(os.sched_getaffinity(0))
    rc, lines, err = run("--workload", "pages_pipeline", "--trace", "1",
                         "--levels", f"1,{nproc + 1}")
    expect(rc != 0 and not lines and f"core level {nproc + 1}" in err,
           f"a core level above nproc={nproc} is refused by name")

    print(f"\n{'FAILED: ' + str(len(problems)) if problems else 'all smoke checks passed'}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
