"""Benchmark of the image+caption dedup engine (graft).

    python3 perfbench/run.py --workload small-dup --seed 42 --seconds 10 --trace 0

Run from the root of the repository. The first run builds the engine and the
benchmark into ``.bench_build`` (see perfbench/build.py); each run then
starts one JVM with a fresh ``spark.local.dir`` of its own, which is removed
on exit. The corpus is made from ``--seed``; the engine always runs with
``GraftConfig(seed = 7)``.

Workloads (one closed-loop client, one job at a time, ``local[k]`` with
``k = min(3, nproc - 1)``; see perfbench/DESIGN.md for the reasoning):

* ``small-dup``: 500 planted groups (about 5.2k rows, about 24k round-0
  edges). Per-job latency and the driver loop cost more than the data;
  round-0 CC takes the driver union-find path.
* ``large-dup``: 1,000 planted groups (about 10.5k rows, about 48k round-0
  edges, over the benchmark's 36k driver cap). Twice the data through the
  same jobs; round-0 CC runs the distributed star loop.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics of a traced run. Every output is checked; the last stdout
line is one JSON object ``{"correct", "attempted", "failed", "metrics"}``
and the exit code is non-zero when a check failed.
"""

import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import spans as sp  # noqa: E402

WORKLOADS = ("small-dup", "large-dup")
HEAP = "4g"
RUN_LIMIT_S = 170  # a run ends within 180 s once built
TARGET_QUALITY = 0.99  # graft target: dup-pair recall and precision
# The small-dup corpus at the generator's default seed: exact quality on record.
PINNED = {("small-dup", 42): {"rows": 4991, "recall": "1.000000", "precision": "1.000000"}}

END_TO_END = [
    ("wall_s", "s"), ("images_per_s", "1/s"), ("setup_s", "s"),
    ("dup_pair_recall", "ratio"), ("dup_pair_precision", "ratio"),
    ("cache_bytes", "bytes"),
]
SPANS = ["gen.generate", "feat.featurize", "lsh.band", "lsh.verify", "cluster.cc",
         "cluster.pipeline", "cluster.durable", "cluster.resume", "eval.evaluate"]
SPAN_COUNTERS = [
    ("seconds", "s"), ("self_s", "s"), ("jobs", "count"), ("stages", "count"),
    ("executor_run_s", "s"), ("driver_s", "s"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("peak_exec_mem_bytes", "bytes"),
]
SPAN_EXTRAS = [
    ("lsh.band.exploded_rows", "count"), ("lsh.band.candidate_pairs", "count"),
    ("lsh.band.max_bucket_rows", "count"), ("lsh.band.singleton_share", "ratio"),
    ("lsh.verify.pairs_in", "count"), ("lsh.verify.pairs_out", "count"),
    ("lsh.verify.yield", "ratio"),
    ("cluster.cc.edges_in", "count"), ("cluster.cc.components", "count"),
    ("cluster.cc.star_jobs", "count"),
    ("cluster.pipeline.passes", "count"), ("cluster.pipeline.round0_edges", "count"),
    ("cluster.pipeline.round0_s", "s"), ("cluster.pipeline.macro_s", "s"),
    ("cluster.pipeline.peak_scratch_bytes", "bytes"),
    ("cluster.resume.features_recomputed", "count"),
    ("cluster.resume.rounds_recomputed", "count"),
    ("io.workdir_bytes", "bytes"), ("trace.overhead_s", "s"),
]
PER_LAYER = [(f"{s}.{c}", u) for s in SPANS for c, u in SPAN_COUNTERS] + SPAN_EXTRAS


def provenance(args, cores, digest):
    commit = None
    if pathlib.Path(".git").exists():
        proc = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True)
        commit = proc.stdout.strip() or None
    return {"git_commit": commit, "source_sha256": digest, "nproc": os.cpu_count(),
            "master": f"local[{cores}]", "heap": HEAP, "workload": args.workload,
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "load1_start": os.getloadavg()[0]}


def run_jvm(classpath, run_dir, args, cores, deadline):
    """Run the JVM side; return its records (one dict per JSON line)."""
    out = run_dir / "records.jsonl"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java"] + [x for p in build.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.DedupBench",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--cores", str(cores), "--run-dir", str(run_dir),
        "--out", str(out), "--launch-ms", str(int(time.time() * 1000))]
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"JVM did not finish within {RUN_LIMIT_S} s")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if not out.exists():
        raise RuntimeError(f"JVM exited with code {proc.returncode} and wrote no records")
    return [json.loads(line) for line in out.read_text().splitlines() if line.strip()]


def check_rep(rep, workload, seed):
    """Failures of one pipeline repetition's output (empty when correct)."""
    if "error" in rep:
        return [f"repetition {rep['i']} threw: {rep['error']}"]
    bad = []
    cov = rep["coverage"]
    if cov["missing"] or cov["extra"] or cov["max_ids_per_row"] != 1 or cov["assigned"] != rep["rows"]:
        bad.append(f"not exactly one cluster_id per input row: {cov}, rows {rep['rows']}")
    for key in ("recall", "precision"):
        if rep[key] < TARGET_QUALITY:
            bad.append(f"dup-pair {key} {rep[key]:.6f} < {TARGET_QUALITY}")
    pin = PINNED.get((workload, seed))
    if pin:
        got = {"rows": rep["rows"], "recall": f"{rep['recall']:.6f}",
               "precision": f"{rep['precision']:.6f}"}
        if got != pin:
            bad.append(f"pinned result {pin} not reproduced: {got}")
    return bad


def check_durable(counts):
    res = counts.get("cluster.resume")
    if res is None:
        return ["durable path did not finish"]
    bad = []
    if not res["same_partition"]:
        bad.append("resumed clustering differs from the straight run")
    if res["features_recomputed_ids"] != [2]:
        bad.append(f"resume recomputed feature partitions {res['features_recomputed_ids']}, expected [2]")
    return bad


def end_to_end(reps, setup):
    med = lambda k: sp.median([r[k] for r in reps])  # noqa: E731
    jvm_s = (setup["main_ms"] - setup["jvm_start_ms"]) / 1e3
    return {
        "wall_s": med("wall_s"),
        "images_per_s": sp.median([r["rows"] / r["wall_s"] for r in reps]),
        "setup_s": jvm_s + setup["session_s"] + sp.median(setup["gen_s"]),
        "dup_pair_recall": med("recall"),
        "dup_pair_precision": med("precision"),
        "cache_bytes": med("cache_bytes"),
    }


def per_layer(records, rep, untraced_walls):
    ms = lambda r, k: r[k] / 1e3  # noqa: E731
    spans = [{"name": r["name"], "parent": r["parent"], "start": ms(r, "start_ms"),
              "end": ms(r, "end_ms"), "seconds": r["seconds"]}
             for r in records if r["kind"] == "span"]
    jobs = [{"start": ms(r, "start_ms"), "end": ms(r, "end_ms")}
            for r in records if r["kind"] == "job"]
    stages = [dict(r, submit=ms(r, "submit_ms")) for r in records if r["kind"] == "stage"]
    counts = {r["span"]: r for r in records if r["kind"] == "counts"}
    out = {}
    for s in spans:
        for k, v in sp.span_counters(s, spans, jobs, stages).items():
            out[f"{s['name']}.{k}"] = v
    band, verify, cc, res = (counts[k] for k in ("lsh.band", "lsh.verify", "cluster.cc", "cluster.resume"))
    out.update({
        "lsh.band.exploded_rows": band["exploded_rows"],
        "lsh.band.candidate_pairs": band["candidate_pairs"],
        "lsh.band.max_bucket_rows": band["max_bucket_rows"],
        "lsh.band.singleton_share": sp.ratio(band["singleton_rows"], band["exploded_rows"]),
        "lsh.verify.pairs_in": verify["pairs_in"],
        "lsh.verify.pairs_out": verify["pairs_out"],
        "lsh.verify.yield": sp.ratio(verify["pairs_out"], verify["pairs_in"]),
        "cluster.cc.edges_in": cc["edges_in"],
        "cluster.cc.components": cc["components"],
        "cluster.cc.star_jobs": out["cluster.cc.jobs"] if cc["star_path"] else 0,
        "cluster.pipeline.passes": rep["passes"],
        "cluster.pipeline.round0_edges": rep["round0_edges"],
        "cluster.pipeline.round0_s": rep["round0_s"],
        "cluster.pipeline.macro_s": rep["macro_s"],
        "cluster.pipeline.peak_scratch_bytes": rep["peak_scratch_bytes"],
        "cluster.resume.features_recomputed": res["features_recomputed"],
        "cluster.resume.rounds_recomputed": res["rounds_recomputed"],
        "io.workdir_bytes": counts["io.workdir"]["workdir_bytes"],
        # traced pipeline seconds minus the median untraced wall_s recorded
        # for this workload in this checkout (0 when none is recorded yet)
        "trace.overhead_s": (out["cluster.pipeline.seconds"] - sp.median(untraced_walls)
                             if untraced_walls else 0.0),
    })
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath, digest = build.ensure_built()
    except (build.BuildError, subprocess.TimeoutExpired, OSError) as e:
        sys.exit(f"[perfbench] build failed: {e}")

    # one core is left to the driver thread, JIT compilers and GC: at
    # local[nproc] the cold run's wall time spreads about twice as wide
    cores = max(1, min(3, (os.cpu_count() or 1) - 1))
    prov = provenance(args, cores, digest)
    deadline = time.time() + RUN_LIMIT_S
    run_dir = (build.build_dir() / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}").resolve()
    shutil.rmtree(run_dir, ignore_errors=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    failures, records = [], []
    try:
        records = run_jvm(classpath, run_dir, args, cores, deadline)
    except RuntimeError as e:
        failures.append(str(e))
        log = run_dir / "jvm.log"
        if log.exists():
            sys.stderr.write(log.read_text()[-4000:])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for r in records:
        if r["kind"] == "provenance":
            prov.update({k: v for k, v in r.items() if k != "kind"})
        if r["kind"] == "error":
            failures.append(f"JVM error: {r['message']}")
    prov["load1_end"] = os.getloadavg()[0]
    print(json.dumps({"provenance": prov}))

    reps = [r for r in records if r["kind"] == "rep"]
    good = []
    for rep in reps:
        bad = check_rep(rep, args.workload, args.seed)
        failures += bad
        if not bad:
            good.append(rep)
    attempted = max(1, len(reps))
    failed = attempted - len(good)
    counts = {r["span"]: r for r in records if r["kind"] == "counts"}
    if args.trace and records:
        attempted += 1
        bad = check_durable(counts)
        failed += bool(bad)
        failures += bad

    results_log = build.build_dir() / "results.jsonl"
    metrics = {}
    if not failures:
        if args.trace:
            walls = []
            if results_log.exists():
                walls = [x["wall_s"] for x in map(json.loads, results_log.read_text().splitlines())
                         if x["workload"] == args.workload and x["source_sha256"] == digest]
            values, units = per_layer(records, good[0], walls), dict(PER_LAYER)
        else:
            values, units = end_to_end(good, next(r for r in records if r["kind"] == "setup")), dict(END_TO_END)
            with open(results_log, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                    "source_sha256": digest, "wall_s": values["wall_s"]}) + "\n")
        for name, unit in units.items():
            metrics[name] = {"value": values[name], "unit": unit}
            print(f"{name:48s} {values[name]!r} {unit}")
        if not args.trace:
            # printed, not gated: their run-to-run spread is wider than any
            # bound the contract allows (see DESIGN.md); the traced run
            # reports them as eval.evaluate.seconds and
            # cluster.pipeline.peak_scratch_bytes
            for name, unit in (("score_s", "s"), ("peak_scratch_bytes", "bytes")):
                print(f"{name:48s} {sp.median([r[name] for r in good])!r} {unit} (not gated)")
            print(f"{'rows':48s} {good[0]['rows']} count")
    for f in failures:
        print(f"[perfbench] CHECK FAILED: {f}", file=sys.stderr)
    print(f"attempted {attempted}, failed {failed} (failed_fraction {failed / attempted:.3f})")
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
