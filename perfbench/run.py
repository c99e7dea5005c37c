"""Whole-job benchmark of the H3 indexing pipeline.

    python3 perfbench/run.py --workload lines_length --seed 1 --seconds 3 --trace 0

Builds the engine from source (build.py), generates the workload's seeded
inputs (gen.py), runs the jobs in fresh JVMs (graft.perfbench.Main), checks
every job's output with DuckDB, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics of one
traced job (--trace 1). The line before it holds the details: per-job
times, the checks, the pinned environment and, when tracing, the spans.
See perfbench/README.md for what each workload and metric means.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

HEAP = "3g"
MAX_CORES = 4
# setup_s is the median over this many fresh JVMs; each costs ~6 s of the
# run budget (4 + 22 x workloads runs within 3420 s)
SETUP_SAMPLES = 2
# warm units per run, whatever --seconds says: a time-bound count would let
# the JIT's downward drift over the first units move the median
MIN_WARM = 3
JVM_TIMEOUT_S = 170
TOLERANCE = 1e-9
# the traced wall may exceed the sum of its spans by this share
TRACE_GAP_SHARE = 0.05

ADD_OPENS = [f"java.base/{p}" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

T0 = time.monotonic()


def log(msg):
    print(f"[perfbench {time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def jvm(mode, cfg, work, classes, name, timeout=JVM_TIMEOUT_S):
    """Run graft.perfbench.Main in a fresh JVM; return its result dict."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cfg = dict(cfg, result=os.path.join(work, f"{name}.json"))
    cfg_path = os.path.join(work, f"{name}.cfg.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # no hsperfdata file in the system temp dir: write only under `work`
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Djts.overlay=ng",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-cp", f"{classes}:{os.path.join(build.spark_jars(), '*')}",
        "graft.perfbench.Main", mode, cfg_path]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    log(f"{name} JVM")
    log_path = os.path.join(work, f"{name}.log")
    with open(log_path, "w") as out:
        r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                           cwd=work, timeout=timeout)
    if r.returncode != 0 or not os.path.isfile(cfg["result"]):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise RuntimeError(f"{name} JVM exited {r.returncode}")
    with open(cfg["result"]) as f:
        return json.load(f)


# ------------------------------------------------------------------ checks

def _scan(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def check_unit(vdir):
    """Check one job's written output; return (problems, digest, zero-ratio pairs)."""
    with open(os.path.join(vdir, "job.json")) as f:
        job = json.load(f)
    with open(os.path.join(vdir, "manifest.json")) as f:
        manifest = json.load(f)
    out = job["output_path"]
    con = duckdb.connect()
    problems, digest = [], []
    resolved = _scan(os.path.join(out, "resolved"))
    cells, zeros = [], 0
    for name, spec in job["inputs"].items():
        ix = _scan(os.path.join(out, "indexed", name))
        uid = spec["unique_id"]
        bad, zero, over, pairs, hsum = con.execute(f"""
            SELECT count(*) FILTER (WHERE NOT (ratio >= 0 AND ratio <= 1 + {TOLERANCE})),
                   count(*) FILTER (WHERE ratio = 0),
                   (SELECT count(*) FROM (SELECT sum(ratio) s FROM {ix} GROUP BY "{uid}")
                     WHERE s > 1 + {TOLERANCE}),
                   count(*), sum(hash("{uid}"::VARCHAR || h3_index)) % 18446744073709551616
            FROM {ix}""").fetchone()
        zeros += zero
        if bad:
            problems.append(f"{name}: {bad} ratios outside [0, 1]")
        if over:
            problems.append(f"{name}: {over} features with ratio sum > 1")
        digest.append(f"{name}={pairs}:{int(hsum or 0):016x}")
        cells.append(f"SELECT h3_index FROM {ix}")
        for a in spec["input_columns"]:
            want = con.execute(f'SELECT sum("{a}" * ratio) FROM {ix}').fetchone()[0]
            got = con.execute(f'SELECT sum("sum_{a}") FROM {resolved}').fetchone()[0]
            if not _close(got, want):
                problems.append(f"sum_{a}: resolved {got} != indexed sum(value*ratio) {want}")
            if spec["method"] == "WITHIN":
                total = manifest["inputs"][name]["totals"][a]
                if not _close(got, total):
                    problems.append(f"sum_{a}: resolved {got} != input total {total}")
    union = " UNION ".join(cells)
    n_res, n_distinct, missing, extra, hsum = con.execute(f"""
        SELECT (SELECT count(*) FROM {resolved}),
               (SELECT count(DISTINCT h3_index) FROM ({union})),
               (SELECT count(*) FROM ({union}) c WHERE h3_index NOT IN (SELECT h3_index FROM {resolved})),
               (SELECT count(*) FROM {resolved} WHERE h3_index NOT IN ({union})),
               (SELECT sum(hash(h3_index)) % 18446744073709551616 FROM {resolved})""").fetchone()
    if n_res != n_distinct or missing or extra:
        problems.append(f"resolved cells {n_res} != distinct indexed cells {n_distinct} "
                        f"({missing} missing, {extra} extra)")
    digest.append(f"resolved={n_res}:{int(hsum or 0):016x}")
    return problems, " ".join(digest), zeros


def _close(got, want):
    if got is None or want is None:
        return got == want
    return abs(got - want) <= TOLERANCE * max(1.0, abs(want))


def recorded_digest(workload, seed):
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return json.load(f).get(workload, {}).get(str(seed))


# ------------------------------------------------------------------ runs

def features(vdir):
    with open(os.path.join(vdir, "manifest.json")) as f:
        return sum(i["rows"] for i in json.load(f)["inputs"].values())


def run(args, root):
    classes = build.ensure_built()
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work, classes)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _run(args, work, classes):
    # measure: the cold variant, then warm candidates; trace: the cold
    # variant, warm candidates, the traced variant, the kernel variant
    n_var = 1 + MIN_WARM + 2
    log("generating inputs")
    variants = gen.generate(args.workload, args.seed, os.path.join(work, "in"), n_var,
                            args.scale)
    cores = min(MAX_CORES, os.cpu_count() or 1)
    cfg = {"workload": args.workload, "cores": cores, "seconds": args.seconds,
           "min_warm": MIN_WARM, "variants": variants}
    # setup_s is an end-to-end metric only, so only untraced runs sample it
    setups = [jvm("setup", cfg, work, classes, f"setup{i}")["setup_s"]
              for i in range(0 if args.trace else SETUP_SAMPLES - 1)]
    mode = "trace" if args.trace else "measure"
    res = jvm(mode, cfg, work, classes, mode)
    setups.append(res["setup_s"])

    log("checking outputs")
    units = [res["cold"]] + res["warm"]
    for u in units:
        if u["ok"]:
            problems, u["digest"], _ = check_unit(u["variant"])
            if problems:
                u.update(ok=False, error="; ".join(problems))
    # digests are recorded for the benchmark's own input size only
    want = recorded_digest(args.workload, args.seed) if args.scale == 1.0 else None
    got = res["cold"].get("digest")
    if want is not None and got is not None and got != want:
        res["cold"].update(ok=False, error=f"digest {got} != recorded {want}")
    # job_s stays a number when every warm unit failed; `failed` reports them
    warm = [u for u in res["warm"] if u["ok"]] or res["warm"]
    detail = {"workload": args.workload, "seed": args.seed, "setup_samples_s": setups,
              "env": dict(res["env"], heap=HEAP, cores=cores), "units": units,
              "digest_check": "unrecorded" if want is None else
              "match" if got == want else f"expected {want}"}

    if args.trace:
        tr = res["trace"]
        layers = tr["layers"]
        problems, tr["digest"], layers["indexer.zero_ratio_pairs"] = check_unit(tr["variant"])
        if layers["validator.rows_dropped"] != layers["validator.quarantine_rows"]:
            problems.append("validator dropped rows != quarantine rows")
        if layers["trace.unattributed_s"] > TRACE_GAP_SHARE * layers["trace.wall_s"]:
            problems.append("spans do not account for the traced wall")
        tr["problems"] = problems
        units.append({"variant": tr["variant"], "ok": not problems,
                      "error": "; ".join(problems), "digest": tr["digest"]})
        metrics = {**{k: (v, _unit(k)) for k, v in layers.items()},
                   **{k: (v, "us") for k, v in res["kernels"].items()},
                   "env.heap_mb": (res["env"]["heap_mb"], "MB"),
                   "env.cellinfo_memo_cap": (res["env"]["cellinfo_memo_cap"], "count"),
                   "env.host_cal_cpu_s": (res["env"]["host_cal_cpu_s"], "s")}
        detail["spans"] = tr["spans"]
    else:
        job_s = statistics.median(u["wall_s"] for u in warm)
        metrics = {
            "job_s": (job_s, "s"),
            "cold_job_s": (res["cold"]["wall_s"], "s"),
            "setup_s": (statistics.median(setups), "s"),
            "cpu_s": (statistics.median(u["cpu_s"] for u in warm), "s"),
            "features_per_s": (features(variants[0]) / job_s, "1/s"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB")}
    log("done")
    failed = sum(1 for u in units if not u["ok"])
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": len(units), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


def _unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_mb", ".mb")):
        return "MB"
    if name.endswith(("_ratio", "_skew")):
        return "ratio"
    return "count"


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the smoke test runs tiny inputs)")
    args = p.parse_args()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/engine/Pipeline.scala")):
        log("no engine sources: run from a checkout of the repository")
        return 2
    try:
        return run(args, root)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        log(f"failed: {e}")
        return 3


if __name__ == "__main__":
    sys.exit(main())
