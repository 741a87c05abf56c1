"""Adjacent A/B of the benchmark: a base commit against a change, in pairs.

Usage (from anywhere inside the repository):
  python3 tools/ab.py --workload code-pipeline [--pairs 10] [--seed 1]
      [--base HEAD] [--change REV] [--workdir DIR] [--json FILE]

The base side is `git archive` of --base (default HEAD, the parent of an
uncommitted change) extracted into the work directory; the change side is
this checkout's working tree, or `git archive` of --change when given. Both
run `perfbench/run.py` with the same arguments (`--seconds` from
BENCHMARK.json, tracing off), one fresh JVM per run. Pair i uses seed
--seed + i and alternates which side runs first.

For each end-to-end metric of BENCHMARK.json it prints both sides' median
and quartiles, the pairs the change won (ties count for neither side) and a
verdict:
  gain        the change won >= 9/10 of the pairs and its median beats the
              base median by more than the base's quartile spread (Q3 - Q1);
  regression  the change's median is worse than the base median by more
              than the metric's bound (a fraction of the base median);
  unresolved  the base runs spread wider than the bound, and not every run
              of the change beats every run of the base;
  same        none of the above.
A run that fails or prints no result counts against ok_frac; the script
exits 1 when any metric regresses.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout.strip()


def extract(rev, dest):
    """Plain copy of the files of commit `rev` in `dest`."""
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", rev], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"ab: git archive {rev} failed")


def run_once(root, workload, seed, seconds, timeout):
    """Metric values of one benchmark run, or None when it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    try:
        p = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    try:
        result = json.loads(lines[-1])
        return {k: v["value"] for k, v in result["metrics"].items()}
    except (ValueError, KeyError, TypeError):
        return None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(metric, base, change):
    """(verdict, wins, pairs) for one metric over paired runs."""
    lower = metric["better"] == "lower"
    pairs = [(b, c) for b, c in zip(base, change) if b is not None and c is not None]
    if not pairs:
        return "no data", 0, 0
    wins = sum(1 for b, c in pairs if (c < b if lower else c > b))
    bs = [b for b, _ in pairs]
    cs = [c for _, c in pairs]
    b1, bm, b3 = quartiles(bs)
    _, cm, _ = quartiles(cs)
    gap = (bm - cm) if lower else (cm - bm)  # > 0: the change is better
    if bm != 0 and -gap / abs(bm) > metric["bound"]:
        return "regression", wins, len(pairs)
    if wins >= 0.9 * len(pairs) and gap > b3 - b1:
        return "gain", wins, len(pairs)
    if bm != 0 and (b3 - b1) / abs(bm) > metric["bound"]:
        every = (max(cs) < min(bs)) if lower else (min(cs) > max(bs))
        if not every:
            return "unresolved", wins, len(pairs)
    return "same", wins, len(pairs)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--base", default="HEAD")
    ap.add_argument("--change", default=None,
                    help="commit to compare (default: this working tree)")
    ap.add_argument("--workdir", default=None,
                    help="where the extracted trees live (default: a temp dir, removed after)")
    ap.add_argument("--json", default=None, help="also write every run here")
    ap.add_argument("--timeout", type=float, default=600.0, help="per run, seconds")
    a = ap.parse_args()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = bench["end_to_end"]
    seconds = bench.get("run_seconds", 5)
    names = {w["name"] for w in bench["workloads"]}
    if a.workload not in names:
        raise SystemExit(f"ab: unknown workload {a.workload} (have {sorted(names)})")

    work = a.workdir or tempfile.mkdtemp(prefix="graft-ab-")
    keep = a.workdir is not None
    try:
        base_rev = git("rev-parse", a.base)
        sides = {"base": os.path.join(work, f"base-{base_rev[:12]}")}
        if not os.path.isdir(sides["base"]):
            extract(base_rev, sides["base"])
        if a.change:
            change_rev = git("rev-parse", a.change)
            sides["change"] = os.path.join(work, f"change-{change_rev[:12]}")
            if not os.path.isdir(sides["change"]):
                extract(change_rev, sides["change"])
        else:
            change_rev = "working tree"
            sides["change"] = ROOT
        print(f"ab: {a.workload}, {a.pairs} pairs, base {base_rev[:12]} vs {change_rev}",
              flush=True)
        for side, root in sides.items():  # compile once, outside the pairs
            subprocess.run([sys.executable, "perfbench/build.py"], cwd=root, check=True,
                           stdout=subprocess.DEVNULL)

        runs = {"base": [], "change": []}
        for i in range(a.pairs):
            seed = a.seed + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                m = run_once(sides[side], a.workload, seed, seconds, a.timeout)
                runs[side].append(m)
            shown = " ".join(
                f"{s}:{'FAIL' if runs[s][-1] is None else round(runs[s][-1].get('job_s', 0), 2)}"
                for s in ("base", "change"))
            print(f"pair {i + 1} seed {seed} ({order[0]} first) job_s {shown}", flush=True)

        regressed = False
        print(f"\n{'metric':<14}{'base med [q1,q3]':>34}{'change med [q1,q3]':>34}"
              f"{'wins':>8}  verdict")
        for metric in metrics:
            k = metric["name"]
            if k == "ok_frac":  # a failed run is a run with ok_frac 0
                bs = [0.0 if r is None else r.get(k) for r in runs["base"]]
                cs = [0.0 if r is None else r.get(k) for r in runs["change"]]
            else:
                bs = [None if r is None else r.get(k) for r in runs["base"]]
                cs = [None if r is None else r.get(k) for r in runs["change"]]
            v, wins, n = verdict(metric, bs, cs)
            regressed |= v == "regression"

            def fmt(xs):
                xs = [x for x in xs if x is not None]
                if not xs:
                    return "-"
                q1, q2, q3 = quartiles(xs)
                return f"{q2:.4g} [{q1:.4g},{q3:.4g}]"
            print(f"{k:<14}{fmt(bs):>34}{fmt(cs):>34}{f'{wins}/{n}':>8}  {v}")
        if a.json:
            with open(a.json, "w") as fh:
                json.dump({"workload": a.workload, "base": base_rev, "change": change_rev,
                           "seed": a.seed, "runs": runs}, fh, indent=1)
        return 1 if regressed else 0
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
