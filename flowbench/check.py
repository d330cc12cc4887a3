"""Output checks and metrics for the flow benchmark.

flowbench.Main records every iteration's wall and CPU time, the artifacts
it wrote and the rows it collected. This module hashes each artifact
(order-insensitive: the sum of its rows' hashes, and its row count),
checks each iteration against the generator's expectations and against
the first iteration of the same workload, and turns the record into the
benchmark's metrics.
"""
import json
import os
import statistics
from collections import Counter

import pandas as pd
import pyarrow.parquet as pq

SPANS = ["spec.validate", "spec.poll", "spec.merge", "spec.rollup", "spec.logs",
         "ingest.seed", "ingest.day_first", "ingest.day_last", "ingest.fold",
         "ingest.signatures", "ingest.windows", "ingest.gates",
         "release.run", "release.funnel", "release.vectors"]
SPAN_METRICS = [("wall_s", "s"), ("cpu_s", "s"), ("jobs", "count"),
                ("tasks", "count"), ("driver_gap_s", "s"), ("scan_mb", "MB"),
                ("shuffle_mb", "MB"), ("write_mb", "MB")]


def _cell(v):
    if hasattr(v, "tolist"):
        v = v.tolist()
    return repr(v) if isinstance(v, (list, dict)) else v


def read_artifact(path, fmt):
    """The artifact as a DataFrame: parquet columns (partition columns
    included), or one `line` column for JSON lines."""
    if fmt == "json":
        lines = []
        for f in sorted(os.listdir(path)):
            if not f.startswith(("_", ".")):
                with open(os.path.join(path, f)) as fh:
                    lines += fh.read().splitlines()
        return pd.DataFrame({"line": lines})
    df = pq.read_table(path).to_pandas()
    for c in df.columns:
        if df[c].dtype == object or str(df[c].dtype) == "category":
            df[c] = df[c].astype(object).map(_cell).astype(str)
    return df


def content_hash(df):
    """(rows, order-insensitive hash) of a DataFrame."""
    if df.empty:
        return 0, 0
    h = pd.util.hash_pandas_object(df[sorted(df.columns)], index=False)
    return len(df), int(h.astype("uint64").sum()) % 2 ** 64


def check_spec(frames, rows, meta):
    e = meta["expect"]
    got = {
        "error types": dict(Counter(json.loads(x)["error_type"]
                                    for x in frames["errors"]["line"])),
        "ledger status": dict(Counter(frames["ledger"]["status"])),
        "ai_status": dict(Counter(frames["targets"]["ai_status"])),
        "rollup": {r["prio"]: [r["n_lines"], r["n_errors"], r["n_invalid"],
                               r["n_completed"]] for r in rows},
        "log lines": len(frames["logs"]),
    }
    want = {"error types": e["error_types"], "ledger status": e["ledger_status"],
            "ai_status": e["ai_status"], "rollup": e["rollup"],
            "log lines": e["log_lines"]}
    return [f"{k}: got {got[k]}, want {want[k]}" for k in got if got[k] != want[k]]


def check_ingest(frames, rows, meta):
    steps = {r["step"]: r["n_docs"] for r in rows}
    batch = steps.pop("batch_in", 0)
    problems = []
    if batch != meta["day_batches"][0]:
        problems.append(f"batch_in is {batch}, want {meta['day_batches'][0]}")
    if sum(steps.values()) != batch:
        problems.append(f"dispositions sum to {sum(steps.values())}, "
                        f"batch_in is {batch}")
    if len(frames["day0/disposition.parquet"]) != batch:
        problems.append("disposition table does not cover the batch")
    return problems


def check_release(frames, rows, meta):
    steps = {r["step"]: r["n_rows"] for r in rows}
    written = {s: len(frames[s]) for s in steps}
    problems = [] if len(steps) >= 10 else [f"only {len(steps)} release steps"]
    if written != steps:
        problems.append(f"summary counts {steps} differ from written rows {written}")
    return problems


CHECKS = {"spec_cycle": check_spec, "ingest_chain": check_ingest,
          "release_build": check_release}


def input_rows(workload, meta):
    """Input rows of one iteration: request lines, day 0's batch docs, or
    the release universe's docs."""
    return {"spec_cycle": meta["rows"].get("orders"),
            "ingest_chain": (meta.get("day_batches") or [None])[0],
            "release_build": meta["rows"].get("documents")}[workload]


def check_iterations(iterations, metas):
    """Sets each iteration's `problems` and `hashes`."""
    first = {}
    for it in iterations:
        w = it["workload"]
        if "error" in it:
            it["problems"] = ["threw " + it["error"]]
            continue
        frames = {a["name"]: read_artifact(a["path"], a["format"])
                  for a in it["artifacts"]}
        hashes = {k: content_hash(f) for k, f in frames.items()}
        hashes["collected"] = content_hash(pd.DataFrame(
            {"row": [json.dumps(r, sort_keys=True) for r in it["collected"]]}))
        try:
            problems = CHECKS[w](frames, it["collected"], metas[w])
        except (KeyError, ValueError, TypeError) as e:
            problems = [f"check failed: {e!r}"]
        ref = first.setdefault(w, hashes)
        problems += [f"content of {k} differs from the first iteration"
                     for k in sorted(ref) if ref[k] != hashes.get(k)]
        it["hashes"] = {k: list(v) for k, v in hashes.items()}
        it["problems"] = problems
        del it["artifacts"]


def _m(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(record, workload, meta):
    measured = [i for i in record["iterations"] if i["phase"] == "measured"]
    failed = sum(1 for i in measured if i["problems"])
    wall = statistics.median(i["wall_s"] for i in measured)
    metrics = {
        "wall_s": _m(wall, "s"),
        "cpu_s": _m(statistics.median(i["cpu_s"] for i in measured), "s"),
        "rows_per_s": _m(input_rows(workload, meta) / wall, "1/s"),
        "setup_s": _m(statistics.median(record["setup_s"]), "s"),
        "peak_rss_mb": _m(record["peak_rss_mb"], "MB"),
        "ok_frac": _m((len(measured) - failed) / len(measured), "fraction"),
    }
    return len(measured), failed, metrics


def per_layer(record, workload):
    metrics = {}
    for name in SPANS:
        occ = [s for s in record["spans"] if s["name"] == name]
        if not occ:
            raise ValueError(f"span {name} never ran")
        for k, unit in SPAN_METRICS:
            metrics[f"{name}.{k}"] = _m(statistics.median(s[k] for s in occ), unit)
    own = [i for i in record["iterations"] if i["workload"] == workload]
    untraced = statistics.mean(i["wall_s"] for i in own if i["phase"] == "untraced")
    traced_wall = next(i["wall_s"] for i in own if i["phase"] == "traced")
    overhead = {"workload": workload, "untraced_wall_s": untraced,
                "traced_wall_s": traced_wall,
                "overhead_s": traced_wall - untraced}
    traced = [i for i in record["iterations"] if i["phase"] == "traced"]
    return len(traced), sum(1 for i in traced if i["problems"]), metrics, overhead
