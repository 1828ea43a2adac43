"""Per-key timing audit at sf0.1 → BENCH_DETAIL.md.

Complements bench.py (the driver's one-line headline bench) with full
coverage: every registry key, warm timing (2nd run), row count, sorted
slowest-first so regressions and scale embarrassments surface immediately.
Run: python tools/bench_all.py   (resumes from its partial file;
     python tools/bench_all.py --partial prints that file's path)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.driver_sim import partial_path  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PARTIAL = partial_path("bench_detail", SF)


def _prior_timings(path: str) -> dict[str, float]:
    """Parse the committed BENCH_DETAIL.md table → {key: sec} (prior round's
    values, the baseline for the anomaly re-timer)."""
    import re

    prior: dict[str, float] = {}
    if os.path.exists(path):
        for m in re.finditer(
            r"^\| ([a-z0-9_]+) \| (\d+\.\d+) \|", open(path).read(), re.M
        ):
            prior[m.group(1)] = float(m.group(2))
    return prior


RETIME_RATIO = 1.5  # in-sweep rows >1.5x their prior-round value re-time
RETIME_FLOOR = 0.5  # sub-second rows are +-30% box noise — never re-time
# rows collecting more than this through the driver are flagged transfer-
# bound in the table (VERDICT r11 item 9): their wall time is dominated by
# the single-collect contract of this audit, not by cluster-side compute,
# so a regression in REAL compute would be masked without the marker
TRANSFER_BOUND_ROWS = 50_000


def main() -> None:
    import json

    from upflow_spark import QUERIES
    from upflow_spark.session import get_spark

    done: dict[str, tuple] = {}
    if os.path.exists(PARTIAL):
        with open(PARTIAL) as f:
            for line in f:
                r = json.loads(line)
                done[r["key"]] = (r["dt"], r["key"], r["n"], r["err"])

    spark = get_spark("upflow-bench-all")
    results = list(done.values())
    for key in sorted(QUERIES):
        if key in done:
            continue
        fn = QUERIES[key]
        try:
            n = len(fn(spark, SF).collect())  # warm-up
            t0 = time.perf_counter()
            n = len(fn(spark, SF).collect())
            dt = time.perf_counter() - t0
            results.append((dt, key, n, ""))
        except Exception as exc:
            results.append((float("inf"), key, -1, str(exc)[:120]))
        with open(PARTIAL, "a") as f:
            f.write(json.dumps({"key": key, "dt": results[-1][0], "n": results[-1][2], "err": results[-1][3]}) + "\n")
        print(f"{key}: {results[-1][0]:.2f}s {results[-1][2]} rows", file=sys.stderr, flush=True)

    # anomaly re-timer (VERDICT r10 item 6): rows >RETIME_RATIO x their
    # prior-round value carry late-sweep session pollution more often than
    # real regressions (localCheckpoint storage + GC — simhash r9,
    # triangle_count r8); re-time them in a FRESH session (context restart
    # drops the accumulated block-manager state) and footnote both values.
    detail_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_DETAIL.md",
    )
    prior = _prior_timings(detail_path)
    anomalous = [
        (dt, key)
        for dt, key, n, err in results
        if not err
        and key in prior
        and dt > RETIME_FLOOR
        and prior[key] > 0
        and dt > RETIME_RATIO * prior[key]
    ]
    retimed: list[tuple[str, float, float]] = []
    if anomalous:
        print(
            f"re-timing {len(anomalous)} anomalous rows in a fresh session",
            file=sys.stderr,
            flush=True,
        )
        spark.stop()
        spark = get_spark("upflow-bench-retime")
        by_key = {r[1]: i for i, r in enumerate(results)}
        for dt_old, key in anomalous:
            fn = QUERIES[key]
            try:
                n = len(fn(spark, SF).collect())  # warm-up
                t0 = time.perf_counter()
                n = len(fn(spark, SF).collect())
                dt_new = time.perf_counter() - t0
            except Exception:
                continue
            retimed.append((key, dt_old, dt_new))
            results[by_key[key]] = (dt_new, key, n, "")
            print(
                f"  {key}: {dt_old:.2f}s in-sweep -> {dt_new:.2f}s standalone",
                file=sys.stderr,
                flush=True,
            )

    results.sort(reverse=True)
    total = sum(r[0] for r in results if r[0] != float("inf"))
    lines = [
        "# BENCH_DETAIL — per-key warm timings",
        "",
        f"`{SF}` on local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count())}], "
        "warm = 2nd run, single collect(). Sorted slowest-first. "
        "Regenerate: `python tools/bench_all.py`.",
        "",
        f"**{len(results)} keys, {total:.1f}s total.**",
        "",
        "| key | sec | rows |",
        "|---|---|---|",
    ]
    n_tb = 0
    for dt, key, n, err in results:
        cell = f"FAILED: {err}" if err else f"{dt:.3f}"
        mark = ""
        if not err and n >= TRANSFER_BOUND_ROWS:
            mark = " †"
            n_tb += 1
        lines.append(f"| {key} | {cell} | {n}{mark} |")
    if n_tb:
        lines += [
            "",
            f"† transfer-bound ({n_tb} keys): ≥{TRANSFER_BOUND_ROWS:,} rows"
            " collected through the driver — wall time is dominated by this"
            " audit's single-collect contract, not cluster-side compute;"
            " compare these rows against their own history only.",
        ]
    if retimed:
        lines += [
            "",
            f"Rows below were re-timed standalone (in-sweep value was >{RETIME_RATIO}x the",
            "prior round's — late-sweep session pollution, not a regression):",
            "",
            "| key | in-sweep | standalone |",
            "|---|---|---|",
        ] + [
            f"| {k} | {a:.3f} | {b:.3f} |" for k, a, b in sorted(retimed)
        ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH_DETAIL.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"BENCH_DETAIL.md written: {len(results)} keys, {total:.1f}s", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    if sys.argv[1:] == ["--partial"]:
        print(PARTIAL)
    else:
        main()
