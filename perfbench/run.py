"""spark-geo benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload join_batch --seed 1 --seconds 18 --trace 0

Run from the repository root.  The run writes a seeded input table,
starts the engine's session on local[nproc], runs two warm-up passes,
then repeats passes for ``--seconds`` seconds (at least three), and
finally checks the outputs.  Human-readable metrics go to stdout first;
the last stdout line is the JSON result.  With ``--trace 1`` the run
reports per-layer metrics instead of end-to-end ones and writes its
spans to ``.perfbench/traces/``.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

# unit and direction of every reported metric (BENCHMARK.json mirrors it)
END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "docs_per_s": "docs/s",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
    "queries_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "corpus.scan_s": "s",
    "corpus.docs_per_s": "docs/s",
    "pip_join.call_s": "s",
    "pip_join.cell_index_s": "s",
    "pip_join.self_s": "s",
    "pip_join.candidates": "count",
    "pip_join.matches": "count",
    "pip_join.refine_yield": "ratio",
    "overlay.self_s": "s",
    "overlay.candidates": "count",
    "overlay.pieces": "count",
    "knn.call_s": "s",
    "knn.self_s": "s",
    "geometry.pip.points_per_s": "1/s",
    "geometry.pip.edge_tests": "count",
    "geometry.strtree.queries_per_s": "1/s",
    "geometry.boolean.pairs_per_s": "1/s",
    "tiling.call_s": "s",
    "tiling.self_s": "s",
    "tiling.tiles": "count",
    "tiling.shuffle_write_bytes": "bytes",
    "mvt.self_s": "s",
    "mvt.tiles": "count",
    "mvt.bytes_out": "bytes",
    "table.commit_s": "s",
    "table.files_written": "count",
    "table.bytes_per_row": "bytes",
    "table.pruned_read_ms": "ms",
    "table.files_opened_frac": "ratio",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.gc_s": "s",
    "trace.overhead_frac": "ratio",
}
KERNEL_POINTS = 25_000
KERNEL_RECTS = 20_000
# passes keep getting faster for a while after the session starts (JIT):
# the first pass runs 3x slow and the second still 20-30% slow, so both
# are warm-up; the window then holds at least MIN_PASSES plain passes
WARMUP_PASSES = 2
MIN_PASSES = 3
MAX_FAILURES = 3  # give up the window after this many failed operations


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def end_to_end(passes: list[dict], setup_s: float) -> dict:
    walls = [p["wall"] for p in passes]
    lat = [s for p in passes for _, s in p["queries"]]
    return {
        "setup_s": setup_s,
        "job_s": statistics.median(walls),
        "docs_per_s": statistics.median(p["docs"] / p["wall"] for p in passes),
        "query_p50_ms": 1e3 * statistics.median(lat),
        "query_p90_ms": 1e3 * _p90(lat),
        "queries_per_s": len(lat) / sum(walls),
        "peak_rss_mb": statistics.median(p["rss"] for p in passes) / 2**20,
    }


def per_layer(T, ctx_info: dict, kernels: dict, passes: list[dict]) -> dict:
    def med(xs, default=None):
        xs = [x for x in xs if x is not None]
        return statistics.median(xs) if xs else default

    def attr(name, key):
        return med(r.get(key) for r in T.named(name))

    m = {
        "session.start_s": ctx_info["session_s"],
        "session.warmup_s": ctx_info["warmup_s"],
        "corpus.scan_s": T.median_duration("corpus.scan"),
        "corpus.docs_per_s": med(r["docs"] / T.duration(r) for r in T.named("corpus.scan")),
        "pip_join.call_s": T.median_duration("pip_join.call"),
        "pip_join.cell_index_s": T.median_duration("pip_join.cell_index"),
        "pip_join.self_s": T.median_self("pip_join"),
        "pip_join.candidates": attr("pip_join", "candidates"),
        "pip_join.matches": attr("pip_join", "matches"),
        "overlay.self_s": T.median_self("overlay"),
        "overlay.candidates": attr("overlay", "candidates"),
        "overlay.pieces": attr("overlay", "pieces"),
        "knn.call_s": T.median_duration("knn.call"),
        "knn.self_s": T.median_self("knn"),
        "tiling.call_s": T.median_duration("tiling.call"),
        "tiling.self_s": T.median_self("tiling"),
        "tiling.tiles": attr("tiling", "tiles"),
        "tiling.shuffle_write_bytes": attr("tiling", "shuffle_write_bytes"),
        "mvt.self_s": T.median_self("mvt"),
        "mvt.tiles": attr("mvt", "tiles"),
        "mvt.bytes_out": attr("mvt", "bytes_out"),
        "table.commit_s": T.median_duration("table.commit"),
        "table.files_written": attr("table.layout", "files_written"),
        "table.bytes_per_row": attr("table.layout", "bytes_per_row"),
        "table.pruned_read_ms": 1e3 * T.median_duration("table.pruned_read"),
        "table.files_opened_frac": attr("table.pruned_read", "files_opened_frac"),
    }
    traced = [p for p in passes if p["traced"]]
    for k in ("tasks", "shuffle_read_bytes", "shuffle_write_bytes", "gc_s"):
        m[f"spark.{k}"] = med(p[k] for p in traced)
    pip = [r for r in T.named("pip_join") if r.get("candidates")]
    m["pip_join.refine_yield"] = sum(r["matches"] for r in pip) / sum(
        r["candidates"] for r in pip
    )
    m.update(kernels)
    plain = statistics.median(p["wall"] for p in passes if not p["traced"])
    m["trace.overhead_frac"] = med(p["wall"] for p in traced) / plain - 1.0
    missing = [k for k in PER_LAYER if m.get(k) is None]
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {missing}")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "gdal_spark", "session.py")):
        _log(f"no gdal_spark package under {ROOT}; run from a full checkout")
        return 2
    import workloads as W
    from harness import RssSampler, Tracer, start_session, stop_session

    if args.workload not in W.WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}")
        return 2
    import kernels as K
    from inputs import write_documents

    traced_run = bool(args.trace)
    cpus = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0 = time.monotonic()
    in_dir = os.path.join(work, "input")
    ids = write_documents(os.path.join(in_dir, "documents.parquet"), W.BASE_DOCS, args.seed)
    gen_s = time.monotonic() - t0

    passes: list[dict] = []
    checks: list[tuple[str, bool]] = []
    attempted = failed = 0
    spark = None
    with RssSampler() as rss:
        try:
            t0 = time.monotonic()
            spark = start_session(ROOT, work, cpus)
            session_s = time.monotonic() - t0
            T = Tracer(spark, run_id, enabled=traced_run)
            ctx = W.Context(spark, T, in_dir, work, ids, args.seed)
            wl = W.WORKLOADS[args.workload](ctx)
            _log(f"{run_id}: local[{cpus}], session {session_s:.1f}s; warming up")
            t0 = time.monotonic()
            T.enabled = False  # the warm-up is not measured
            for _ in range(WARMUP_PASSES):
                wl.run_pass(False)
            T.enabled = traced_run
            warmup_s = time.monotonic() - t0
            setup_s = time.monotonic() - T_START - gen_s
            _log(f"setup {setup_s:.1f}s (warm-up {warmup_s:.1f}s, "
                 f"{WARMUP_PASSES} passes); measuring")

            t_window, steal0 = time.monotonic(), _steal_s()
            while True:
                # a traced run alternates plain and traced passes so the
                # tracing overhead is measured on the same inputs
                traced = traced_run and len(passes) % 2 == 1
                T.enabled = traced
                rss.take()
                t0 = time.monotonic()
                try:
                    with T.span("pass") as rec:
                        q, docs = wl.run_pass(traced)
                except Exception:
                    traceback.print_exc()
                    attempted += 1
                    failed += 1
                    if failed >= MAX_FAILURES:
                        break
                    continue
                p = {"wall": time.monotonic() - t0, "rss": rss.take(), "traced": traced}
                if traced:
                    # the traced pass's own work: counts computed only for
                    # the per-layer metrics are left out
                    p.update(T.minus_aside(rec))
                wall = p["wall"]
                attempted += len(q)
                passes.append({**p, "queries": q, "docs": docs})
                _log(f"pass {len(passes)}{' traced' if traced else ''}: {wall:.2f}s "
                     f"rss={p['rss'] / 2**20:.0f}MB "
                     + " ".join(f"{n}={s:.2f}" for n, s in q))
                done = time.monotonic() - t_window >= args.seconds
                if done and len(passes) >= (2 if traced_run else MIN_PASSES):
                    break

            T.enabled = False
            _log(f"window done at {time.monotonic() - T_START:.1f}s, "
                 f"{_steal_s() - steal0:.1f} CPU-s stolen by the hypervisor")
            # the checks are independent jobs; side by side their fixed
            # per-job costs overlap
            with ThreadPoolExecutor(max_workers=4) as pool:
                futures = [(name, pool.submit(fn)) for name, fn in wl.checks()]
            for name, fut in futures:
                try:
                    ok = bool(fut.result())
                except Exception:
                    traceback.print_exc()
                    ok = False
                attempted += 1
                failed += not ok
                checks.append((name, ok))
                _log(f"check {'ok  ' if ok else 'FAIL'} {name}")

            layers = None
            if traced_run:
                T.enabled = True
                W.run_probes(ctx, wl.probe_layers)
                kern = K.measure(K.draw_batches(spark, in_dir, KERNEL_POINTS, KERNEL_RECTS))
                info = {"session_s": session_s, "warmup_s": warmup_s}
                layers = per_layer(T, info, kern, passes)
                T.write(os.path.join(base, "traces", f"{run_id}.jsonl"))
            _log(f"checks done at {time.monotonic() - T_START:.1f}s")
        finally:
            stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)
    _log(f"stopped at {time.monotonic() - T_START:.1f}s")

    plain = [p for p in passes if not p["traced"]]
    if not plain:
        _log("no pass completed")
        return 1
    e2e = end_to_end(plain, setup_s)
    correct = failed == 0 and all(ok for _, ok in checks)
    n_q = sum(len(p["queries"]) for p in plain)
    print(f"workload {args.workload}  seed {args.seed}  local[{cpus}]  "
          f"passes {len(plain)}  queries {n_q}  input gen {gen_s:.2f} s")
    for k, v in e2e.items():
        print(f"{k:<16} {v:14.4f} {END_TO_END[k]}")
    print(f"{'failed_frac':<16} {failed / attempted:14.4f} ({failed}/{attempted})")
    metrics = e2e
    if layers is not None:
        for k, v in layers.items():
            print(f"{k:<32} {v:16.6g} {PER_LAYER[k]}")
        metrics = layers
    units = PER_LAYER if layers is not None else END_TO_END
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
