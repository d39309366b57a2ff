"""Turns the harness's per-op records into the benchmark's metrics.

End-to-end metrics come from untraced runs: the median over the measured
ops (warm-up excluded) of each op's wall, CPU and retained heap. A run
needs at least MIN_SAMPLES measured ops; with fewer it reports nothing.
Per-layer metrics come from traced runs, which cycle three kinds of op:
`plain` (untraced), `listen` (the shipped main with the Spark listeners
attached) and `traced` (the layer-by-layer replay under spans).
"""

# four ops of either workload take about --seconds 25
MIN_SAMPLES = 4
# one op of each kind: two cycles took a traced ingest run to 124 s, close
# to the harness budget, and further on a slower host
MIN_TRACE_CYCLES = 1


class SampleError(Exception):
    pass


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise SampleError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def enough(n, trace=False):
    """The sample-count rule: a run reports only with this many samples."""
    return n >= (MIN_TRACE_CYCLES if trace else MIN_SAMPLES)


def _one(records, kind):
    found = [r for r in records if r["kind"] == kind]
    if len(found) != 1:
        raise SampleError(f"expected one '{kind}' record, got {len(found)}")
    return found[0]


def setup_seconds(setup):
    """Median of the repeated input set-ups, plus the one-off set-up steps."""
    return median(setup["input_s"]) + setup["adopt_s"] + setup["warmup_s"]


def summarize(records, trace, cpus, per_layer_names):
    """Return (result, detail): `result` is the benchmark's last line."""
    ops = [r for r in records if r["kind"] == "op"]
    setup = _one(records, "setup")
    inp = _one(records, "input")
    attempted = len(ops)
    failed = sum(1 for r in ops if not r["ok"])
    if attempted == 0:
        raise SampleError("no ops ran")
    detail = {"input_rows": inp["rows"], "input_bytes": inp["bytes"],
              "deterministic_inputs": setup["deterministic"],
              "setup": {k: setup[k] for k in ("input_s", "adopt_s", "warmup_s", "warmup_ops")},
              "op_walls": [round(r["wall_s"], 3) for r in ops],
              "op_cpus": [round(r["cpu_s"], 2) for r in ops],
              "op_jit": [round(r["jit_s"], 2) for r in ops]}

    def by(phase):
        return [r for r in ops if r["phase"] == phase]

    if not trace:
        m = by("measure")
        if not enough(len(m)):
            raise SampleError(f"{len(m)} measured ops, need {MIN_SAMPLES}")
        wall = median([r["wall_s"] for r in m])
        metrics = {
            "setup_s": (setup_seconds(setup), "s"),
            "wall_s": (wall, "s"),
            "cpu_s": (median([r["cpu_s"] for r in m]), "s"),
            "rows_per_s": (inp["rows"] / wall, "1/s"),
            "retained_heap_mb": (median([r["heap_mb"] for r in m]), "MB"),
            "ok_ratio": ((attempted - failed) / attempted, "ratio"),
            "stored_bytes_ratio": (median([r["out_bytes"] for r in m]) / inp["bytes"], "ratio"),
        }
        detail["samples"] = len(m)
    else:
        plain, listen, traced = by("plain"), by("listen"), by("traced")
        n = min(len(plain), len(listen), len(traced))
        if not enough(n, trace=True):
            raise SampleError(f"{n} trace cycles, need {MIN_TRACE_CYCLES}")
        metrics = layer_metrics(plain, listen, traced, cpus)
        detail["samples"] = n
        # a layer the workload never enters spends no time and does no work
        for name, unit in per_layer_names:
            metrics.setdefault(name, (0.0, unit))
        units = dict(per_layer_names)
        metrics = {k: (v, units[k]) for k, (v, _) in metrics.items() if k in units}
    result = {"correct": failed == 0 and bool(setup["deterministic"]),
              "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    return result, detail


def layer_metrics(plain, listen, traced, cpus):
    out = {}
    for k in listen[0]["spark"]:
        out[f"spark.{k}"] = (median([r["spark"][k] for r in listen]), "")
    out["spark.session_start_s"] = (median([r["session_start_s"] for r in listen]), "s")
    out["spark.driver_gap_s"] = (median([r["driver_gap_s"] for r in listen]), "s")
    out["spark.occupancy"] = (median([r["spark"]["task_run_s"] / (r["wall_s"] * cpus)
                                      for r in listen]), "ratio")
    out["jvm.gc_s"] = (median([r["gc_s"] for r in listen]), "s")
    out["jvm.jit_s"] = (median([r["jit_s"] for r in listen]), "s")
    for k in sorted({k for r in traced for k in r["layers"]}):
        out[k] = (median([r["layers"].get(k, 0.0) for r in traced]), "")
    base = median([r["wall_s"] for r in plain])
    out["trace.overhead"] = (median([r["wall_s"] for r in traced]) / base, "ratio")
    out["trace.listener_overhead"] = (median([r["wall_s"] for r in listen]) / base, "ratio")
    return out
