"""Seeded input generator for the benchmark workloads.

Every input the program sees is written here, as parquet files in the
repository's own table schemas (see `Schemas.scala`), from one seed. The same
seed gives byte-identical inputs. The sizes below are fixed; only the values
depend on the seed, so run-to-run differences in timing come from the
program and the machine, not from a different amount of work.

    python3 perfbench/gen.py <workload> <seed> <out_dir>

writes the files and prints the recorded sizes as JSON.
"""
import datetime as dt
import hashlib
import json
import os
import random
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq

# ---- ohlc_cron -------------------------------------------------------------
# Six instruments trading for one week. The week trades at ~10 trades per
# instrument-hour: enough hourly bars for every daily session (>= 20 bars)
# and enough daily sessions for the weekly guard (>= 5); the monthly guard
# (>= 20 days) keeps the monthly sink empty, but its flow still fires and
# runs. The morning the scheduler runs in trades at 720 per instrument-hour
# (one trade per 5 s), so trades that arrive late straddle the tick inside
# the data: at 10:00 some trades have happened but not yet arrived, and the
# 11:00 tick's sync overlap must rewrite their bars. Small
# enough that a tick's cost is the pipeline's per-flow job overhead, which is
# what the workload is meant to expose (the paper's loop moves a few KB per
# tick).
OHLC = {
    "instruments": 6,
    "trades_per_instrument_hour": 10,
    "start": "2024-01-19 08:00:00",
    "busy_trades_per_instrument_hour": 720,
    "busy_start": "2024-01-26 07:00:00",
    # data ends before the last tick, so the loop must converge on it
    "end": "2024-01-26 10:45:00",
    # a quarter of the trades arrive after their own timestamp, by at most
    # 55 s: inside the 2-minute sync overlap, so the loop still converges.
    # Event ids follow arrival order, so a late trade is out of order.
    "late_share": 0.25,
    "late_max_s": 55,
    # hourly scheduler ticks on the last Friday of January 2024: 10:00
    # syncs the week's history into empty sinks, and 11:00 is a recurring
    # tick on populated sinks, past the end of the data, that also fires the
    # daily, weekly (Friday) and monthly (last Friday) flows
    "ticks": ["2024-01-26 10:00:00", "2024-01-26 11:00:00"],
    # the feed loses a 3-4 h window of bars in the night before the first
    # tick and heals between the first and the second, so gap repair finds
    # the hole and refetches nothing at 10:00, and backfills it at 11:00
    "outage_start_hours": [0, 1, 2],
    "outage_hours": [3, 4],
    "outage_healed_at": "2024-01-26 10:30:00",
}

# ---- corpus_ingest ---------------------------------------------------------
# Two waves of 240 documents: the first creates the store, the second is an
# ingest tick into it. A tick's cost is dominated by its fixed job count
# (about 70 Spark jobs), so a wave this size measures the store, not the
# text kernels, and one cycle fits a run.
CORPUS = {
    "waves": 2,
    "docs_per_wave": 240,
    "exact_dup_share": 0.06,   # exact copies of an earlier document's text
    "near_dup_share": 0.10,    # copies with one or two words replaced
    "low_quality_share": 0.10, # digit/punctuation-heavy, dropped by the gate
    "words": [20, 90],
    "forget": 3,               # unique kept documents purged by `forget`
    "lookups_per_probe": 4,    # md5s per point lookup between ticks
}

# the store's quality gate: `CorpusStore.tick` keeps a document whose
# `TextOps.qualityScore` is at least this; forget targets are chosen with a
# margin above it, so that the gate keeps every one of them
MIN_QUALITY = 0.70
FORGET_MIN_QUALITY = 0.72
GATE_STOPWORDS = {"the", "a", "an", "of", "and", "is", "in", "to", "it", "that"}

VOCAB = ("key agg row scan slow fast table value part hash merge batch spark "
         "line sort window data column join small customer query order group "
         "filter stream vector big").split()
STOP = ["the", "a", "of", "and", "is", "in", "to", "it", "that"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

FMT = "%Y-%m-%d %H:%M:%S"


def ts(s):
    return dt.datetime.strptime(s, FMT)


def trade_times(rnd, start, end, per_hour):
    """Distinct, sorted trade times at `per_hour` trades an hour on average."""
    span_ms = int((end - start).total_seconds() * 1000)
    n = int(span_ms / 3.6e6 * per_hour)
    return [start + dt.timedelta(microseconds=off * 1000 + rnd.randrange(1000))
            for off in sorted(rnd.sample(range(span_ms), n))]


def gen_ohlc(rnd, out):
    start, busy, end = ts(OHLC["start"]), ts(OHLC["busy_start"]), ts(OHLC["end"])
    n_inst = OHLC["instruments"]
    rows = []
    for i in range(n_inst):
        price = rnd.uniform(50, 400)
        times = (trade_times(rnd, start, busy, OHLC["trades_per_instrument_hour"])
                 + trade_times(rnd, busy, end, OHLC["busy_trades_per_instrument_hour"]))
        for t in times:
            price = max(1.0, price * (1 + rnd.gauss(0, 0.002)))
            rows.append((t, f"inst{i:02d}", round(price, 2)))
    rows.sort(key=lambda r: r[0])
    # a late trade arrives up to late_max_s after its own timestamp
    arrivals = []
    for t, inst, price in rows:
        late = rnd.random() < OHLC["late_share"]
        arr = t + dt.timedelta(seconds=rnd.uniform(1, OHLC["late_max_s"])) if late else t
        arrivals.append((arr, t, inst, price))
    arrivals.sort(key=lambda r: r[0])
    ev_ts = [t for _, t, _, _ in arrivals]
    arr_ts = [a for a, _, _, _ in arrivals]
    us = pa.timestamp("us")
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(arrivals)), pa.int64()),
        "ts": pa.array(ev_ts, us),
        "user_id": pa.array([rnd.randrange(1000) for _ in arrivals], pa.int64()),
        "event_type": pa.array([inst for _, _, inst, _ in arrivals], pa.string()),
        "value": pa.array([price for _, _, _, price in arrivals], pa.float64()),
        "props": pa.array(['{"k": %d}' % rnd.randrange(100) for _ in arrivals], pa.string()),
    }), os.path.join(out, "events.parquet"))
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(arrivals)), pa.int64()),
        "arrival_ts": pa.array(arr_ts, us),
    }), os.path.join(out, "arrivals.parquet"))
    n_late = sum(1 for a, t, _, _ in arrivals if a != t)
    # trades a tick cannot see yet: happened by the tick, arrive after it
    hidden = {}
    for tk in OHLC["ticks"]:
        at = ts(tk)
        hidden[tk] = sum(1 for a, t, _, _ in arrivals if t <= at < a)
    o_start = ts(OHLC["ticks"][0]).replace(hour=0) + dt.timedelta(
        hours=rnd.choice(OHLC["outage_start_hours"]))
    o_end = o_start + dt.timedelta(hours=rnd.choice(OHLC["outage_hours"]))
    return {
        "workload": "ohlc_cron",
        "trades": len(rows),
        "instruments": n_inst,
        "trade_rate_per_instrument_hour": OHLC["trades_per_instrument_hour"],
        "busy_trade_rate_per_instrument_hour": OHLC["busy_trades_per_instrument_hour"],
        "busy_start": OHLC["busy_start"],
        "late_trades": n_late,
        "late_share": round(n_late / len(rows), 4),
        "late_max_s": OHLC["late_max_s"],
        "hidden_at_tick": hidden,
        "data_start": OHLC["start"],
        "data_end": OHLC["end"],
        "ticks": OHLC["ticks"],
        "outage": {"start": o_start.strftime(FMT), "end": o_end.strftime(FMT),
                   "healed_at": OHLC["outage_healed_at"]},
        "why": "the paper's cron loop at the size it runs at: a few KB per "
               "tick, so per-flow job and commit overhead dominates; late "
               "trades straddle the ticks inside the data",
    }


def quality_score(text):
    """`TextOps.qualityScore` of one text (4-decimal rounding as there)."""
    n = len(text)
    words = re.split(r"\s+", text)
    alpha = len(re.sub(r"[^a-zA-Z]", "", text))
    punct = len(re.sub(r"[a-zA-Z0-9\s]", "", text))
    stop = sum(1 for w in words if w in GATE_STOPWORDS)
    return round(round(alpha / n, 4) * 0.4 + (1 - round(punct / n, 4)) * 0.3
                 + round(stop / len(words), 4) * 0.2 + min(1.0, len(words) / 100) * 0.1, 4)


def doc_text(rnd, n_words):
    words = [rnd.choice(STOP) if rnd.random() < 0.3 else rnd.choice(VOCAB)
             for _ in range(n_words)]
    return " ".join(words)


def low_quality_text(rnd, n_words):
    return " ".join(f"{rnd.randrange(10**6)}{rnd.choice('#$%&*+=')}"
                    for _ in range(n_words))


def near_copy(rnd, text):
    words = text.split(" ")
    for _ in range(rnd.choice([1, 2])):
        i = rnd.randrange(len(words))
        words[i] = rnd.choice([w for w in VOCAB if w != words[i]])
    return " ".join(words)


def gen_corpus(rnd, out):
    waves, per_wave = CORPUS["waves"], CORPUS["docs_per_wave"]
    n = waves * per_wave
    lo, hi = CORPUS["words"]
    texts, kinds = [], []
    for k in range(n):
        r = rnd.random()
        originals = [i for i, kd in enumerate(kinds) if kd == "unique"]
        if k > 10 and r < CORPUS["exact_dup_share"]:
            src = rnd.choice(originals)
            texts.append(texts[src])
            kinds.append("exact")
            kinds[src] = "source"
        elif k > 10 and r < CORPUS["exact_dup_share"] + CORPUS["near_dup_share"]:
            src = rnd.choice(originals)
            texts.append(near_copy(rnd, texts[src]))
            kinds.append("near")
            kinds[src] = "source"
        elif r < (CORPUS["exact_dup_share"] + CORPUS["near_dup_share"]
                  + CORPUS["low_quality_share"]):
            texts.append(low_quality_text(rnd, rnd.randint(lo, hi)))
            kinds.append("low")
        else:
            texts.append(doc_text(rnd, rnd.randint(lo, hi)))
            kinds.append("unique")
    # arrival position k lands in wave k // per_wave; doc ids are a seeded
    # permutation within each wave's residue class, so doc_id % waves == wave
    ids = []
    for wave in range(waves):
        slot = [wave + waves * j for j in range(per_wave)]
        rnd.shuffle(slot)
        ids.extend(slot)
    # forget targets: long unique documents from the first wave, which the
    # quality gate keeps (with a margin) and no other document duplicates
    cands = [k for k in range(per_wave)
             if kinds[k] == "unique" and len(texts[k].split(" ")) >= 40
             and quality_score(texts[k]) >= FORGET_MIN_QUALITY]
    forget = sorted(rnd.sample(cands, CORPUS["forget"]))
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rnd.choice(LANGS) for _ in range(n)], pa.string()),
        "source": pa.array([f"src{rnd.randrange(20)}" for _ in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(out, "documents.parquet"))
    md5 = lambda t: hashlib.md5(t.encode("utf-8")).hexdigest()
    # probes: md5s of documents from waves already ingested at probe time
    probes = []
    for wave in range(waves):
        pool = list(range(0, (wave + 1) * per_wave))
        probes.append(sorted({md5(texts[k]) for k in
                              rnd.sample(pool, CORPUS["lookups_per_probe"])}))
    plan = {"waves": waves, "forget_md5s": sorted(md5(texts[k]) for k in forget),
            "forget_doc_ids": sorted(ids[k] for k in forget),
            "probe_md5s": probes}
    with open(os.path.join(out, "corpus_plan.json"), "w") as f:
        json.dump(plan, f)
    count = lambda kd: sum(1 for x in kinds if x == kd)
    return {
        "workload": "corpus_ingest",
        "documents": n,
        "waves": waves,
        "docs_per_wave": per_wave,
        "exact_duplicates": count("exact"),
        "near_duplicates": count("near"),
        "low_quality": count("low"),
        "below_quality_gate": sum(1 for t in texts if quality_score(t) < MIN_QUALITY),
        "forget": CORPUS["forget"],
        "lookups_per_probe": CORPUS["lookups_per_probe"],
        "why": "waves small enough that the tick's fixed job and commit cost "
               "dominates, with enough duplicates that every dedup stage "
               "drops something",
    }


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    # string seeding is stable across Python versions and processes
    rnd = random.Random(f"{workload}:{seed}")
    if workload == "ohlc_cron":
        sizes = gen_ohlc(rnd, out)
    elif workload == "corpus_ingest":
        sizes = gen_corpus(rnd, out)
    else:
        raise ValueError(f"unknown workload {workload}")
    sizes["seed"] = seed
    with open(os.path.join(out, "sizes.json"), "w") as f:
        json.dump(sizes, f, indent=1)
    return sizes


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
