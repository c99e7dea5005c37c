"""Record the output digest of each seed's cold unit into digests.json.

    python3 perfbench/record_digests.py <first_seed> <last_seed> [workload ...]

Run it on a commit whose output is trusted; run.py then fails any unit 0 of
a recorded seed whose output digest differs. One warm JVM per workload runs
the jobs back to back; the digest depends only on the output, not on the
order the jobs ran in.
"""
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    seeds = range(int(sys.argv[1]), int(sys.argv[2]) + 1)
    workloads = sys.argv[3:] or list(gen.WORKLOADS)
    classes = build.ensure_built()
    path = os.path.join(HERE, "digests.json")
    digests = {}
    if os.path.isfile(path):
        with open(path) as f:
            digests = json.load(f)
    work = os.path.join(os.path.dirname(HERE), ".bench_work", f"digests-{os.getpid()}")
    try:
        for w in workloads:
            dirs = {s: gen.generate(w, s, os.path.join(work, w, str(s)), 1)[0] for s in seeds}
            cfg = {"workload": w, "cores": min(run.MAX_CORES, os.cpu_count() or 1),
                   "seconds": 0, "min_warm": len(dirs) - 1, "variants": list(dirs.values())}
            res = run.jvm("measure", cfg, os.path.join(work, w), classes, f"record-{w}",
                          timeout=60 * len(dirs))
            by_dir = {u["variant"]: u for u in [res["cold"]] + res["warm"]}
            for s, d in dirs.items():
                u = by_dir[d]
                problems, digest, _ = run.check_unit(d) if u["ok"] else ([u["error"]], None, 0)
                if problems:
                    sys.exit(f"{w} seed {s}: {'; '.join(problems)}")
                digests.setdefault(w, {})[str(s)] = digest
                run.log(f"{w} seed {s}: {digest}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(path, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
