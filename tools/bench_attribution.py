"""Like-for-like bench attribution: HEAD vs an older code state on
the SAME machine, interleaved so VM drift cancels.

Why this exists: single per-round bench recordings cannot separate
(a) verified semantics growth, (b) a code regression, and (c) the VM
benching slower that day. This tool answers it:

1. Checks out the base code state (``--base-commit``; the tree the
   previous round's judge graded) into a throwaway git worktree and
   drops the CURRENT bench harness into it, so both sides run the
   identical protocol (warm-up discard + median of N).
2. Runs the bench set in ALTERNATING processes — base, HEAD, base,
   HEAD, ... — K pairs. Any load drift during the study hits both
   sides symmetrically. ``--only`` focuses the study on the entries
   under question, buying more samples per minute of study.
3. Pools the per-entry timed samples per side and reports medians,
   next to recorded per-round numbers (``--recorded label=path``,
   robust to both the parsed-stdout and tail-embedded-sidecar BENCH
   file shapes), with per-entry environment and code factors.

The base tree must run the current harness unchanged: its
``approx_aggs`` must accept ``sketch_only`` (round 12 or later).

History: the round-3 study (base ea28985, full headline set) settled
the r3 +38 % question as VM drift — see BENCH_ATTRIBUTION.md §1-6 and
BENCH_ATTRIBUTION.json. The round-6 study (base 9ae267f = r4 tree,
focused on the three r5-judge-flagged drift entries) writes
BENCH_ATTRIBUTION_r6.json and BENCH_ATTRIBUTION.md §7.

Usage:
    python tools/bench_attribution.py [--pairs 3] [--n 2]
        [--base-commit ea28985] [--sf-dir /root/testdata/sf0.1]
        [--only entry ...] [--recorded label=path ...]
        [--out BENCH_ATTRIBUTION.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKTREE = "/tmp/spark_graft_bench_base_worktree"


def run_bench(cwd: str, sf_dir: str, n: int, only: list[str]) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_BENCH_N=str(n))
    out = subprocess.run(
        [sys.executable, "bench.py", *only], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=1800,
    )
    if out.returncode != 0:
        raise RuntimeError(f"bench failed in {cwd}:\n{out.stderr[-3000:]}")
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    res = json.loads(line)
    if "samples" not in res:
        # r5+ bench contract: the stdout line is compact; per-run
        # samples live in a sidecar next to the harness that was run
        # (name-filtered runs write the .partial variant).
        for side in ("BENCH_DETAIL.partial.json", "BENCH_DETAIL.json"):
            detail_path = os.path.join(cwd, side)
            if os.path.exists(detail_path):
                with open(detail_path) as f:
                    res["samples"] = json.load(f).get("samples", {})
                break
        else:
            raise RuntimeError(
                f"bench stdout carried no samples and no BENCH_DETAIL "
                f"sidecar exists in {cwd} — cannot pool attribution data"
            )
    return res


def load_recorded(path: str) -> dict[str, float]:
    """Per-entry medians from any recorded BENCH_r*.json shape:
    parsed stdout (r1-r3, r5+), or the r4 contract-bug shape where the
    sidecar JSON (with per-run samples) is embedded in the truncated
    ``tail`` text."""
    with open(path) as f:
        rec = json.load(f)
    out: dict[str, float] = {}
    parsed = rec.get("parsed") or {}
    if parsed.get("queries"):
        out.update(parsed["queries"])
    if not out and "tail" in rec:
        # r4 shape: find the embedded samples dict in the tail
        tail = rec["tail"]
        idx = tail.find('\\"samples\\"')
        raw = tail.replace("\\\"", "\"") if idx < 0 else tail
        idx = raw.find('"samples"')
        if idx < 0:
            return out
        start = raw.find("{", idx)
        depth, end = 0, start
        for i in range(start, len(raw)):
            depth += raw[i] == "{"
            depth -= raw[i] == "}"
            if depth == 0:
                end = i + 1
                break
        else:
            return out  # truncated mid-dict
        try:
            d = json.loads(raw[start:end])
        except json.JSONDecodeError:
            return out
        for name, v in d.items():
            if isinstance(v, list) and v:
                out[name] = round(statistics.median(v), 3)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--base-commit", "--r2-commit", dest="base_commit",
                    default="ea28985")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--only", nargs="*", default=[],
                    help="restrict both sides to these bench entries")
    ap.add_argument("--recorded", action="append", default=[],
                    metavar="LABEL=PATH",
                    help="recorded BENCH_r*.json files to column in")
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_ATTRIBUTION.json"))
    args = ap.parse_args()
    if not args.recorded:
        args.recorded = ["r02=BENCH_r02.json", "r03=BENCH_r03.json"]

    recorded: dict[str, dict[str, float]] = {}
    for spec in args.recorded:
        label, path = spec.split("=", 1)
        recorded[label] = load_recorded(os.path.join(REPO, path))

    # throwaway worktree at the base code state, with the CURRENT harness
    if os.path.exists(WORKTREE):
        subprocess.run(["git", "worktree", "remove", "--force", WORKTREE],
                       cwd=REPO, check=False)
    subprocess.run(["git", "worktree", "add", "--detach", WORKTREE,
                    args.base_commit], cwd=REPO, check=True)
    shutil.copy(os.path.join(REPO, "bench.py"),
                os.path.join(WORKTREE, "bench.py"))

    pooled: dict[str, dict[str, list[float]]] = {"base": {}, "head": {}}
    try:
        for k in range(args.pairs):
            # alternate within-pair order: with a fixed order, load that
            # ramps monotonically during the study penalizes whichever
            # side always runs second (observed in the r6 study as a
            # spurious ~1.1x head-side factor on code-identical entries)
            order = (("base", WORKTREE), ("head", REPO))
            for side, cwd in (order if k % 2 == 0 else order[::-1]):
                res = run_bench(cwd, args.sf_dir, args.n, args.only)
                for name, samples in res.get("samples", {}).items():
                    pooled[side].setdefault(name, []).extend(samples)
                print(f"pair {k + 1}/{args.pairs} {side}: "
                      f"total={res['value']}", file=sys.stderr)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", WORKTREE],
                       cwd=REPO, check=False)

    def med(side: str, name: str):
        s = pooled[side].get(name)
        return round(statistics.median(s), 3) if s else None

    rows = []
    for name in sorted(set(pooled["head"]) | set(pooled["base"])):
        med_h = med("head", name)
        med_b = med("base", name)
        row = {
            "entry": name,
            **{f"{lbl}_recorded": rec.get(name)
               for lbl, rec in recorded.items()},
            "basecode_now": med_b,
            "head_now": med_h,
            "n_samples": {"base": len(pooled["base"].get(name) or []),
                          "head": len(pooled["head"].get(name) or [])},
            "head_samples": pooled["head"].get(name),
            "base_samples": pooled["base"].get(name),
        }
        first = next(iter(recorded.values()), {})
        if med_b and first.get(name):
            row["env_factor"] = round(med_b / first[name], 2)
        if med_b and med_h:
            row["code_factor"] = round(med_h / med_b, 2)
        rows.append(row)

    result = {"sf_dir": args.sf_dir, "pairs": args.pairs,
              "n_per_process": args.n, "base_commit": args.base_commit,
              "only": args.only, "rows": rows}
    with open(args.out, "w") as f:
        json.dump(result, f, indent=2)
    lbls = list(recorded)
    hdr = (f"{'entry':<34}" + "".join(f"{lbl:>8}" for lbl in lbls)
           + f"{'basenow':>9}{'HEADnow':>9}{'env':>6}{'code':>6}")
    print(hdr)
    for row in rows:
        print(f"{row['entry']:<34}"
              + "".join(f"{row.get(lbl + '_recorded') or '':>8}" for lbl in lbls)
              + f"{row['basecode_now'] or '':>9}{row['head_now'] or '':>9}"
              f"{row.get('env_factor', ''):>6}{row.get('code_factor', ''):>6}")


if __name__ == "__main__":
    main()
