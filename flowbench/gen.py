"""Seeded input generator for the flow benchmark.

Writes single-file parquet tables in the shape the program reads through
`graft.Tables`: `orders.parquet` (spec_cycle), `documents.parquet`
(ingest_chain, release_build) and `embeddings.parquet` (release_build).
The same seed gives byte-identical files; another seed gives other keys
and texts. `meta.json` beside them records the seed, the row counts, the
stated and realised shares, and the counts the output checks expect.

Usage: python3 flowbench/gen.py <seed> <out_dir> [orders=N] [docs=N] [vecs=N]
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Vocabulary, sources and languages of the sf0.1 documents table.
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SOURCES = [f"src{i}" for i in range(20)]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

SHARES = {"exact_dup": 0.05, "near_dup": 0.10, "contaminated": 0.02,
          "vec_cluster": 0.10}
NGRAM = 13  # the decontamination gate's n-gram length
DIM = 64


def _write(table, path):
    # No statistics or dictionary choices depend on anything but the
    # data, so equal tables give equal bytes.
    pq.write_table(table, path, compression="snappy")


def gen_orders(rng, n):
    keys = np.sort(rng.choice(10 * n, size=n, replace=False)).astype(np.int64)
    prio = rng.integers(0, len(PRIORITIES), n)
    days = rng.integers(0, 3650, n)
    date = (np.datetime64("1992-01-01", "us")
            + days.astype("timedelta64[D]").astype("timedelta64[us]"))
    table = pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, 15_000, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n).tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(800, 500_000, n), 2)),
        "o_orderdate": pa.array(date, pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in prio]),
    })
    return table, spec_expectations(keys.tolist(), [PRIORITIES[i] for i in prio])


def spec_expectations(keys, prios):
    """Counts the spec flow must produce, derived from the generated keys
    by the defect and status rules of SpecPipeline and StateMachine."""
    errors = {}
    first_model = None
    for k in keys:  # keys are sorted: line order is key order
        if k % 101 != 0 and first_model is None:
            first_model = "gpt-4o" if k % 17 == 0 else "gpt-4o-mini"
    for k in keys:
        if k % 101 == 0 or k % 37 == 0 or k % 23 == 0:
            e = "jsonl_format_error"
        elif ("gpt-4o" if k % 17 == 0 else "gpt-4o-mini") != first_model:
            e = "model_mismatch"
        elif k % 11 == 0:
            e = "custom_id_not_found"
        else:
            continue
        errors[e] = errors.get(e, 0) + 1
    ledger = {}
    for k in keys:
        status = ["completed", "failed", "processing", "submitted"][k % 4]
        if status in ("processing", "submitted"):
            polled = ["completed", "failed", "expired", "cancelling",
                      "cancelled", "in_progress", "finalizing"][k % 7]
            status = {"completed": "processing", "failed": "failed",
                      "expired": "failed", "cancelling": "cancelling",
                      "cancelled": "cancelled"}.get(polled, status)
        ledger[status] = ledger.get(status, 0) + 1
    ai = {"completed": 0, "failed": 0}
    rollup = {}
    for k, p in zip(keys, prios):
        conf = (k % 1000) / 1000.0 + (0.5 if k % 9 == 0 else 0.0)
        valid = k % 13 != 0 and k % 7 != 0 and conf <= 1.0
        ai["completed" if valid else "failed"] += 1
        r = rollup.setdefault(p, [0, 0, 0, 0])
        r[0] += 1
        r[1] += k % 13 == 0
        r[2] += k % 13 != 0 and not valid
        r[3] += valid
    logs = sum(1 for k in keys if k % 4 in (2, 3))
    return {"error_types": errors, "ledger_status": ledger,
            "ai_status": ai, "rollup": rollup, "log_lines": logs}


def spread_ids(rng, n):
    """n distinct seeded ids, n / 70 in every residue class mod 70, so the
    eval holdout (id mod 10 = 0) and each of DailyIngest's day batches
    (id mod 7) have the same size for every seed."""
    if n % 70:
        raise ValueError(f"{n} docs do not split evenly into 70 residue classes")
    per = n // 70
    return np.sort(np.concatenate([
        r + 70 * rng.choice(2 * per, size=per, replace=False)
        for r in range(70)])).astype(np.int64)


def gen_documents(rng, n):
    ids = spread_ids(rng, n)
    lens = rng.integers(10, 101, n)
    texts = [rng.choice(VOCAB, size=int(m)).tolist() for m in lens]
    train = [i for i, d in enumerate(ids) if d % 10 != 0]
    evals = [i for i, d in enumerate(ids) if d % 10 == 0 and lens[i] >= NGRAM]
    # Derived docs are drawn from the train side without replacement; their
    # sources come from the untouched rest, so no derived doc is copied.
    order = rng.permutation(train)
    n_exact = round(SHARES["exact_dup"] * n)
    n_near = round(SHARES["near_dup"] * n)
    n_cont = round(SHARES["contaminated"] * n)
    exact = order[:n_exact]
    near = order[n_exact:n_exact + n_near]
    cont = order[n_exact + n_near:n_exact + n_near + n_cont]
    pristine = order[n_exact + n_near + n_cont:]
    for i in exact:
        texts[i] = list(texts[int(rng.choice(pristine))])
    for i in near:
        src = list(texts[int(rng.choice(pristine))])
        pos = int(rng.integers(0, len(src)))
        src[pos] = VOCAB[(VOCAB.index(src[pos]) + 1 + int(rng.integers(0, len(VOCAB) - 1))) % len(VOCAB)]
        texts[i] = src
    for i in cont:
        ev = texts[int(rng.choice(evals))]
        at = int(rng.integers(0, len(ev) - NGRAM + 1))
        ins = int(rng.integers(0, len(texts[i]) + 1))
        texts[i] = texts[i][:ins] + ev[at:at + NGRAM] + texts[i][ins:]
    text = [" ".join(t) for t in texts]
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist()),
        "source": pa.array([SOURCES[i] for i in rng.integers(0, len(SOURCES), n)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    shares = {"exact_dup": n_exact / n, "near_dup": n_near / n,
              "contaminated": n_cont / n,
              "eval_holdout": sum(1 for d in ids if d % 10 == 0) / n}
    # train docs per residue of DailyIngest's day split (doc_id mod 7)
    day_batches = [sum(1 for d in ids if d % 10 != 0 and d % 7 == r)
                   for r in range(7)]
    return table, shares, day_batches


def gen_embeddings(rng, n):
    ids = np.sort(rng.choice(2 * n, size=n, replace=False)).astype(np.int64)
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 0.3 * centers[labels] + rng.normal(scale=DIM ** -0.5, size=(n, DIM))
    # Near-duplicate clusters of 2..5 members around one base vector.
    n_clustered = round(SHARES["vec_cluster"] * n)
    members = rng.permutation(n)[:n_clustered]
    at = 0
    while at < len(members) - 1:
        size = min(int(rng.integers(2, 6)), len(members) - at)
        group = members[at:at + size]
        base = vecs[group[0]]
        for m in group[1:]:
            vecs[m] = base + rng.normal(scale=0.01, size=DIM)
            labels[m] = labels[group[0]]
        at += size
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    table = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(),
                              pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })
    return table, {"vec_cluster": n_clustered / n}


def generate(seed, out_dir, size):
    """Writes the tables `size` asks for (`orders`, `docs`, `vecs` rows)
    into out_dir and returns the metadata."""
    # One independent stream per table: resizing one leaves the others alone.
    streams = np.random.SeedSequence(seed).spawn(3)
    os.makedirs(out_dir, exist_ok=True)
    meta = {"seed": seed, "rows": {}, "shares": {},
            "stated_shares": {}}
    if "orders" in size:
        t, meta["expect"] = gen_orders(np.random.default_rng(streams[0]),
                                       size["orders"])
        _write(t, os.path.join(out_dir, "orders.parquet"))
        meta["rows"]["orders"] = t.num_rows
    if "docs" in size:
        t, shares, day_batches = gen_documents(
            np.random.default_rng(streams[1]), size["docs"])
        _write(t, os.path.join(out_dir, "documents.parquet"))
        meta["rows"]["documents"] = t.num_rows
        meta["day_batches"] = day_batches
        meta["shares"].update(shares)
        meta["stated_shares"].update({k: SHARES[k] for k in
                                      ("exact_dup", "near_dup", "contaminated")})
    if "vecs" in size:
        t, shares = gen_embeddings(np.random.default_rng(streams[2]), size["vecs"])
        _write(t, os.path.join(out_dir, "embeddings.parquet"))
        meta["rows"]["embeddings"] = t.num_rows
        meta["shares"].update(shares)
        meta["stated_shares"]["vec_cluster"] = SHARES["vec_cluster"]
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


if __name__ == "__main__":
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    size = dict(a.split("=", 1) for a in sys.argv[3:])
    print(json.dumps(generate(int(sys.argv[1]), sys.argv[2],
                              {k: int(v) for k, v in size.items()})))
