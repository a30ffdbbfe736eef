"""Seeded input generators for the benchmark workloads.

Every function here is a pure function of its seed and sizes: the same
seed writes byte-identical files. The engine only ever sees these files
(and, for the trend stream, the events replayed from them on a schedule).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024 = 1704067200  # 2024-01-01 00:00:00 UTC, in seconds

# --- trend: the batch phase ---------------------------------------------
TREND = dict(
    counters=40,         # counters in the main input
    days=8,              # length of every counter's series
    files=8,             # input CSV files, counters split evenly
    zipf_s=1.5,          # exponent of the per-counter hourly rate
    hot_rate=600.0,      # hourly rate of the hottest counter
    diurnal=0.5,         # relative amplitude of the daily cycle
    min_interval_min=15, # raw rows cover 15-25 minutes each
    max_interval_min=25,
    lib_series=8,        # labelled WDT library: half trends, half not
    lib_hours=150,
)


def _fmt_ts(sec):
    """The reference layout's compact `yyyyMMddHHmmss` start time."""
    iso = np.datetime_as_string(np.asarray(sec, dtype="datetime64[s]"), unit="s")
    return np.char.replace(np.char.replace(np.char.replace(iso, "-", ""), "T", ""), ":", "")


def _counter_rows(rng, rate_h, hours, spike_h, diurnal):
    """Back-to-back 15-25 minute intervals over `hours` hours. Each row's
    count is 1 + Poisson(rate over the interval), so every hourly bin gets
    a positive count and the rebinned grid has no zero runs."""
    t0 = EPOCH_2024 + int(rng.integers(60, 1200))  # jittered first start
    end = EPOCH_2024 + hours * 3600 - int(rng.integers(60, 1200))
    starts, durs = [], []
    t = t0
    while t < end:
        d = int(rng.integers(TREND["min_interval_min"] * 60,
                             TREND["max_interval_min"] * 60 + 1))
        d = min(d, end - t)
        starts.append(t)
        durs.append(d)
        t += d
    starts = np.array(starts, dtype=np.int64)
    durs = np.array(durs, dtype=np.int64)
    hour = (starts - EPOCH_2024) // 3600
    phase = 2 * np.pi * ((hour % 24) - 6) / 24.0
    rate = rate_h * (1.0 + diurnal * np.sin(phase))
    rate = np.where(hour == spike_h, rate * 4.0 + 60.0, rate)
    counts = 1 + rng.poisson(rate * durs / 3600.0)
    return starts, durs, counts


def _write_counts(path, rows):
    with open(path, "w") as f:
        for name, starts, durs, counts in rows:
            ts = _fmt_ts(starts)
            for s, d, c in zip(ts, durs, counts):
                f.write(f"{s},{d},{c},{name}\n")


def _write_split(dir_path, rows, files):
    """Counter i goes to file i mod `files`, as a sharded collector would."""
    os.makedirs(dir_path, exist_ok=True)
    for k in range(files):
        _write_counts(os.path.join(dir_path, f"part-{k:02d}.csv"), rows[k::files])


def _grid_rows(starts, durs):
    """Rows Rebin must emit for one gap-free counter: every hourly bin from
    trunc(first start) through the bin holding the last stop."""
    first = (starts[0] - EPOCH_2024) // 3600
    last_stop = starts[-1] + durs[-1]
    last = (last_stop - EPOCH_2024) // 3600
    if (last_stop - EPOCH_2024) % 3600 == 0:
        last -= 1  # a stop on the edge touches no part of the next bin
    return int(last - first + 1)


def trend_batch(out_dir, seed):
    rng = np.random.default_rng([seed, 1])
    p = TREND

    rows, spikes, grid, straddle, n_rows = [], {}, 0, 0, 0
    rates = p["hot_rate"] / np.arange(1, p["counters"] + 1) ** p["zipf_s"]
    hours = p["days"] * 24
    for i in range(p["counters"]):
        name = f"c{i:04d}"
        spike_h = int(rng.integers(48, hours - 24))
        s, d, c = _counter_rows(rng, rates[i], hours, spike_h, p["diurnal"])
        rows.append((name, s, d, c))
        spikes[name] = str(_fmt_ts(EPOCH_2024 + spike_h * 3600))
        grid += _grid_rows(s, d)
        straddle += int(np.sum((s // 3600) != ((s + d - 1) // 3600)))
        n_rows += len(s)
    _write_split(os.path.join(out_dir, "counts"), rows, p["files"])

    # WDT library: hourly series, trends end in a spike, non-trends do not
    library = []
    for i in range(p["lib_series"]):
        trend = i % 2 == 0
        hours = np.arange(p["lib_hours"])
        rate = 20.0 * (1.0 + 0.3 * np.sin(2 * np.pi * (hours % 24 - 6) / 24.0))
        if trend:
            rate[-12:] = rate[-12:] * 4.0 + 60.0
        library.append({"series_id": f"lib{i:02d}", "is_trend": trend,
                        "counts": [int(x) for x in 1 + rng.poisson(rate)]})

    truth = {
        "spikes": spikes,
        "grid_rows": grid,
        "library": library,
        "dims": {
            "counters": p["counters"],
            "days": p["days"],
            "input_files": p["files"],
            "zipf_exponent": p["zipf_s"],
            "raw_rows": n_rows,
            "hourly_rate_hot": round(float(rates[0]), 1),
            "hourly_rate_median": round(float(np.median(rates)), 1),
            "hourly_rate_tail": round(float(rates[-1]), 2),
            "straddle_share": round(straddle / n_rows, 4),
            "interval_minutes": [p["min_interval_min"], p["max_interval_min"]],
            "wdt_library_series": p["lib_series"],
        },
    }
    return truth


# --- trend: the stream phase --------------------------------------------
STREAM = dict(
    counters=80,
    zipf_s=1.1,
    rate=1000,            # offered events per wall second
    tick_ms=20,           # generator emits one burst per tick
    # One event-time hour every half wall second: shorter than any
    # micro-batch, so every batch closes bins and runs the three scorers.
    # (With hours longer than a batch the stream settles in one of two
    # regimes, scoring in every batch or in few, and latency is bimodal.)
    event_s_per_wall_s=7200,
    slack_s=1800,         # watermark slack, event-time seconds
    ooo_share=0.10,       # shifted back within the slack
    late_share=0.01,      # shifted back beyond slack + one bin
)


def trend_stream(out_dir, seed, total_wall_s):
    """Event schedule: (due_ms, event_ms, counter, count, kind) sorted by
    due time, where kind 0 = in order, 1 = out of order within the slack,
    2 = late beyond it. Event time advances with the schedule, compressed
    by `event_s_per_wall_s`."""
    rng = np.random.default_rng([seed, 2])
    p = STREAM
    n = int(total_wall_s * p["rate"])
    due_ms = (np.arange(n, dtype=np.int64) * 1000) // p["rate"]
    due_ms -= due_ms % p["tick_ms"]
    ranks = np.arange(1, p["counters"] + 1, dtype=np.float64)
    prob = ranks ** -p["zipf_s"]
    prob /= prob.sum()
    counter = rng.choice(p["counters"], size=n, p=prob)
    event_ms = EPOCH_2024 * 1000 + due_ms * p["event_s_per_wall_s"]
    u = rng.random(n)
    kind = np.where(u < p["late_share"], 2,
                    np.where(u < p["late_share"] + p["ooo_share"], 1, 0))
    back_ooo = (rng.random(n) * p["slack_s"] * 1000).astype(np.int64)
    back_late = ((p["slack_s"] + 3600 + rng.random(n) * 3600) * 1000).astype(np.int64)
    event_ms = np.where(kind == 1, event_ms - back_ooo,
                        np.where(kind == 2, event_ms - back_late, event_ms))
    count = 1 + rng.poisson(2.0, size=n)
    with open(os.path.join(out_dir, "events.csv"), "w") as f:
        for r in zip(due_ms, event_ms, counter, count, kind):
            f.write(f"{r[0]},{r[1]},s{r[2]:03d},{r[3]},{r[4]}\n")
    truth = {"dims": {
        "counters": p["counters"], "zipf_exponent": p["zipf_s"],
        "offered_rate_per_s": p["rate"], "events": n,
        "event_seconds_per_wall_second": p["event_s_per_wall_s"],
        "watermark_slack_event_s": p["slack_s"],
        "out_of_order_share": round(float(np.mean(kind == 1)), 4),
        "late_share": round(float(np.mean(kind == 2)), 4),
    }}
    return truth


# --- corpus_store --------------------------------------------------------
CORPUS = dict(
    docs=4000,
    vocab=6000,
    zipf_s=1.1,
    min_words=30,
    max_words=60,
    family_share=0.05,   # share of docs that are near-copies of another
    mutate_share=0.1,    # words replaced in each near-copy
    dims=64,
    clusters=24,
    noise=0.35,
    batch=8,             # queries per serve call, rows per write call
)


def _doc_words(rng, vocab_p, n_words):
    return rng.choice(len(vocab_p), size=n_words, p=vocab_p)


def corpus_store(out_dir, seed):
    rng = np.random.default_rng([seed, 3])
    p = CORPUS
    vocab_p = np.arange(1, p["vocab"] + 1, dtype=np.float64) ** -p["zipf_s"]
    vocab_p /= vocab_p.sum()

    def text(ws):
        return " ".join(f"w{w}" for w in ws)

    def new_doc():
        return _doc_words(rng, vocab_p,
                          int(rng.integers(p["min_words"], p["max_words"] + 1)))

    n = p["docs"]
    words = []
    n_family = 0
    for i in range(n):
        if i > 0 and rng.random() < p["family_share"]:
            base = words[int(rng.integers(0, i))].copy()
            k = max(1, int(len(base) * p["mutate_share"]))
            pos = rng.choice(len(base), size=k, replace=False)
            base[pos] = _doc_words(rng, vocab_p, k)
            words.append(base)
            n_family += 1
        else:
            words.append(new_doc())
    centers = rng.normal(size=(p["clusters"], p["dims"]))
    assign = rng.integers(0, p["clusters"], size=n)
    emb = centers[assign] + p["noise"] * rng.normal(size=(n, p["dims"]))

    def vec_table(ids, vecs):
        return pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array([v.astype(np.float32).tolist() for v in vecs],
                                  pa.list_(pa.float32()))})

    ids = np.arange(n, dtype=np.int64)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": [text(w) for w in words]}),
                   os.path.join(out_dir, "docs.parquet"))
    pq.write_table(vec_table(ids, emb), os.path.join(out_dir, "emb.parquet"))

    # The op sequence of one round, replayed on a freshly built store:
    # writes on both stores, then one read batch per store whose queries
    # include every written item (an appended doc must be found by its own
    # text, an upserted vector by itself, a deleted one never). An append
    # leaves the store's df table frozen, so terms new to the store score
    # nothing until the stats are folded; the round folds them after
    # appending, as a deployment that serves its appends must.
    b = p["batch"]

    def vec(v):
        return [round(float(x), 6) for x in v]

    picks = rng.choice(n, size=4 * b, replace=False)
    del_docs, other_docs = picks[:b], picks[b:2 * b]
    up_ids, del_vecs = picks[2 * b:3 * b], picks[3 * b:]
    appended = [{"doc_id": 1_000_000 + j, "text": text(new_doc())} for j in range(b)]
    upserted = [{"vec_id": int(i), "embedding": vec(
        centers[rng.integers(0, p["clusters"])] + p["noise"] * rng.normal(size=p["dims"]))}
        for i in up_ids]
    bm25 = ([{"text": text(words[i]), "expect": None} for i in other_docs] +
            [{"text": text(words[i]), "expect": None} for i in del_docs] +
            [{"text": d["text"], "expect": d["doc_id"]} for d in appended])
    near = rng.choice(n, size=b, replace=False)
    ann = ([{"embedding": vec(emb[i] + 0.1 * rng.normal(size=p["dims"])), "expect": None}
            for i in near] +
           [{"embedding": vec(emb[i]), "expect": None} for i in del_vecs] +
           [{"embedding": u["embedding"], "expect": u["vec_id"]} for u in upserted])
    for j, q in enumerate(bm25):
        q["query_id"] = 2_000_000 + j
    for j, q in enumerate(ann):
        q["query_id"] = 3_000_000 + j
    ops = [
        {"op": "append", "docs": appended},
        {"op": "fold"},
        {"op": "delete_docs", "ids": [int(i) for i in del_docs]},
        {"op": "bm25", "queries": bm25},
        {"op": "upsert", "vecs": upserted},
        {"op": "delete_vecs", "ids": [int(i) for i in del_vecs]},
        {"op": "rebuild"},
        {"op": "ann", "queries": ann},
    ]
    with open(os.path.join(out_dir, "ops.json"), "w") as f:
        json.dump(ops, f)
    truth = {"dims": {
        "docs": n, "vocab": p["vocab"], "zipf_exponent": p["zipf_s"],
        "words_per_doc": [p["min_words"], p["max_words"]],
        "near_dup_share": round(n_family / n, 4),
        "vectors": n, "dims": p["dims"], "clusters": p["clusters"],
        "ops_per_round": len(ops), "rows_per_call": b,
    }}
    return truth


def generate(workload, out_dir, seed, seconds):
    """Write a workload's inputs and its truth.json (expected outputs and
    traffic dimensions) under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "trend":
        truth = trend_batch(out_dir, seed)
        # the stream's schedule covers its warm-up, the measured window and
        # a tail for draining
        stream = trend_stream(out_dir, seed, seconds + 30)
        truth["dims"] = {"batch": truth["dims"], "stream": stream["dims"]}
    elif workload == "corpus_store":
        truth = corpus_store(out_dir, seed)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth
