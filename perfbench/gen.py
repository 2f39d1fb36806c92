"""Seeded input generators for the benchmark workloads.

Everything here is plain Python (plus pyarrow for parquet) and runs in the
benchmark process before a batch is timed; the program under test only ever
sees the files written here.  The same ``seed`` always produces the same
files byte for byte.

Two generators:

* :func:`write_obs_hour` -- one hourly drop in the reference's JSON-array
  shapes (``user_exp_{hour}.json``, ``trace_{hour}.json``,
  ``log_{hour}.json``; see ``tests/fixtures/reference_hour/``), with the
  hour size, the client count and the Zipf skew of events over clients as
  parameters.
* :func:`write_corpus_shard` -- a ``documents.parquet`` +
  ``embeddings.parquet`` shard with planted exact duplicates, near
  duplicates (recorded as planted pairs), PII strings and low-quality
  documents.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import os
import random

DAY0 = dt.datetime(2024, 11, 16, tzinfo=dt.timezone.utc)

# Shapes taken from the reference hour (tests/fixtures/reference_hour/):
# 15 events over 3 clients, each event on its own trace, 1-3 spans per
# trace and one log per span; the mixes below are its counts.
EVENT_MIX = (("page_view_start", 9), ("page_view_end", 5), ("error", 1))
LOG_TYPES = (("INFO", 16), ("SUCCESS", 10), ("RETRY", 1), ("TIMEOUT", 1), ("ERROR", 1))
LEVELS = (("INFO", 26), ("WARN", 2), ("ERROR", 1))
PAGES = ("/home", "/login", "/profile", "/settings")
# Assumption, not in the reference: an error event deletes the client's
# row in the CDC store fold (the reference hour has no delete marker).
DELETE_EVENT = "error"


def hour_name(hidx: int) -> str:
    """``YYYYMMDDHH`` of the ``hidx``-th hour after the synthetic day start."""
    return (DAY0 + dt.timedelta(hours=hidx)).strftime("%Y%m%d%H")


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (k + 1) ** s for k in range(n)))


def _pick(rng: random.Random, cum: list[float]) -> int:
    return bisect.bisect_left(cum, rng.random() * cum[-1])


def _choice(rng: random.Random, mix) -> str:
    r = rng.random() * sum(w for _, w in mix)
    for name, w in mix:
        r -= w
        if r < 0:
            return name
    return mix[-1][0]


def obs_hour_rows(
    seed: int, hidx: int, *, n_events: int, n_clients: int, client_skew: float, tie: bool = False
) -> dict[str, list[dict]]:
    """The three row lists of one hourly drop.

    Events are spread evenly over the hour in file order, with event ids
    zero-padded in file order, so ordering by (timestamp, eventId) -- the
    program's tiebreak -- equals the reference's stable sort by timestamp.
    Clients are Zipf(``client_skew``) draws and event types follow the
    reference mix.  With ``tie`` the last three events of the hour are one
    client's ``page_view_end``, ``page_view_start`` in the same second,
    then a later ``page_view_end``: the same-second end -> start that dense
    hours have and the reference hour has not.  Event ``i`` has
    ``i % 3 + 1`` spans, so every count is fixed by ``n_events`` and not by
    the seed."""
    hour = hour_name(hidx)
    rng = random.Random(f"obs:{seed}:{hour}")
    client_cum = _zipf_cum(n_clients, client_skew)
    t0 = DAY0 + dt.timedelta(hours=hidx)
    n_free, span = (n_events - 3, 3540) if tie else (n_events, 3600)
    kinds = [(f"client{_pick(rng, client_cum)}", _choice(rng, EVENT_MIX), (i * span) // n_free) for i in range(n_free)]
    if tie:
        cid = f"client{_pick(rng, client_cum)}"
        kinds += [(cid, "page_view_end", 3560), (cid, "page_view_start", 3560), (cid, "page_view_end", 3590)]
    events, traces, logs = [], [], []
    for i, (cid, etype, sec) in enumerate(kinds):
        ts = t0 + dt.timedelta(seconds=sec)
        tid = f"tr{hour}_{i:07d}"
        ev = {
            "eventId": f"ev{hour}_{i:07d}",
            "clientId": cid,
            "traceId": tid,
            "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "page": rng.choice(PAGES),
            "eventType": etype,
        }
        if etype == "error":
            ev["errorCode"] = rng.choice(("401", "404", "500", "503"))
            ev["errorMessage"] = f"request failed ({ev['errorCode']})"
        events.append(ev)
        spans = []
        for k in range(i % 3 + 1):
            sid = f"sp{hour}_{i:07d}_{k}"
            spans.append({"spanId": sid, "server": f"srv-{k}", "log": f"op {k}"})
            logs.append({
                "logId": f"lg{hour}_{len(logs):07d}",
                "spanId": sid,
                "timestamp": ev["timestamp"],
                "message": f"m{len(logs) % 97}",
                "level": _choice(rng, LEVELS),
                "processingTimeMs": rng.randint(1, 900),
                "eventType": _choice(rng, LOG_TYPES),
            })
        traces.append({"traceId": tid, "spans": spans})
    return {"user_exp": events, "trace": traces, "log": logs}


def write_obs_hour(data_dir: str, seed: int, hidx: int, **shape) -> dict:
    """Write one hourly drop; returns its rows and per-file record counts."""
    rows = obs_hour_rows(seed, hidx, **shape)
    hour = hour_name(hidx)
    os.makedirs(data_dir, exist_ok=True)
    for name, rs in rows.items():
        tmp = f"{data_dir}/.{name}_{hour}.json.tmp"
        with open(tmp, "w") as f:
            json.dump(rs, f)
        # the stream source must never list a half-written drop
        os.replace(tmp, f"{data_dir}/{name}_{hour}.json")
    return {
        "hour": hour,
        "rows": rows,
        "counts": {k: len(v) for k, v in rows.items()},
        "records": sum(len(v) for v in rows.values()),
    }


# ---------------------------------------------------------------------------
# corpus

# Assumptions, not taken from a source: the language mix, the embedding
# width, and the share of each planted kind -- large enough that every
# shard holds dozens of each for the oracle to check, small enough that
# most documents are distinct base documents.
LANGS = (("en", 40), ("de", 20), ("fr", 15), ("es", 15), ("zh", 10))
EMB_DIMS = 64
SHARES = (("exact_dup", 0.08), ("near_dup", 0.08), ("low_quality", 0.02))


def _vocab(seed: int) -> list[str]:
    rng = random.Random(f"vocab:{seed}")
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < 3000:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def corpus_shard_rows(seed: int, shard: int, *, n_docs: int, id_base: int, pii_share: float) -> dict:
    """Documents of one shard plus what was planted in them.

    Base documents are 40-160 Zipf-drawn words.  An exact duplicate copies
    an earlier base document (half of them with doubled spaces, which the
    fingerprint's whitespace normalization folds).  A near duplicate
    replaces ~4% of an earlier base document's words, which keeps the word
    3-gram Jaccard near 0.8, above the MinHash threshold of 0.5.  PII
    documents are base documents carrying an e-mail address and a phone
    number, one token each (recorded in ``pii``).  Low-quality documents
    are too short or too repetitive for the quality filter.  The count of
    each kind is fixed by :data:`SHARES` and ``pii_share``; the first 10
    documents are base documents."""
    rng = random.Random(f"corpus:{seed}:{shard}")
    vocab = _vocab(seed)
    word_cum = _zipf_cum(len(vocab), 0.8)
    shares = SHARES + (("pii", pii_share),)
    plan = [kind for kind, share in shares for _ in range(round(n_docs * share))]
    plan += ["base"] * (n_docs - 10 - len(plan))
    rng.shuffle(plan)
    plan = ["base"] * 10 + plan
    base: list[int] = []
    docs: list[dict] = []
    planted_pairs: list[tuple[int, int]] = []
    pii: list[str] = []
    for i, kind in enumerate(plan):
        doc_id = id_base + i
        if kind == "exact_dup":
            src = docs[rng.choice(base)]
            text = src["text"].replace(" ", "  ", 2) if rng.random() < 0.5 else src["text"]
        elif kind == "near_dup":
            j = rng.choice(base)
            toks = docs[j]["text"].split()
            for _ in range(max(1, len(toks) // 25)):
                toks[rng.randrange(len(toks))] = vocab[_pick(rng, word_cum)]
            text = " ".join(toks)
            planted_pairs.append((docs[j]["doc_id"], doc_id))
        elif kind == "low_quality":
            w = vocab[_pick(rng, word_cum)]
            text = " ".join([w] * rng.randint(2, 40))
        else:
            toks = [vocab[_pick(rng, word_cum)] for _ in range(rng.randint(40, 160))]
            if kind == "pii":
                strings = (f"user{doc_id}@mail{doc_id % 7}.example.com",
                           f"+1-555-{doc_id % 1000:03d}-{doc_id % 10000:04d}")
                for pii_s in strings:
                    toks.insert(rng.randrange(len(toks)), pii_s)
                pii += strings
            text = " ".join(toks)
            base.append(i)
        docs.append({
            "doc_id": doc_id,
            "text": text,
            "lang": _choice(rng, LANGS),
            "source": f"src{rng.randrange(8)}",
            "n_chars": len(text),
        })
    kinds = {kind: plan.count(kind) for kind in ("base", "exact_dup", "near_dup", "pii", "low_quality")}
    return {"docs": docs, "planted_pairs": planted_pairs, "pii": pii, "kinds": kinds}


def embedding_rows(seed: int, shard: int, *, n: int, id_base: int) -> list[dict]:
    """Clustered unit-scale float vectors (8 labelled clusters)."""
    rng = random.Random(f"emb:{seed}:{shard}")
    centers = [[rng.gauss(0, 0.15) for _ in range(EMB_DIMS)] for _ in range(8)]
    out = []
    for i in range(n):
        label = rng.randrange(8)
        c = centers[label]
        out.append({
            "vec_id": id_base + i,
            "embedding": [c[d] + rng.gauss(0, 0.05) for d in range(EMB_DIMS)],
            "label": label,
        })
    return out


def write_corpus_shard(shard_dir: str, seed: int, shard: int, *, n_docs: int, n_emb: int, pii_share: float) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet`` of one shard;
    returns the documents, the planted near-duplicate pairs and the counts
    of every planted kind."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    id_base = shard * 10_000_000
    made = corpus_shard_rows(seed, shard, n_docs=n_docs, id_base=id_base, pii_share=pii_share)
    emb = embedding_rows(seed, shard, n=n_emb, id_base=id_base)
    os.makedirs(shard_dir, exist_ok=True)
    docs = made["docs"]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
                "text": pa.array([d["text"] for d in docs], pa.string()),
                "lang": pa.array([d["lang"] for d in docs], pa.string()),
                "source": pa.array([d["source"] for d in docs], pa.string()),
                "n_chars": pa.array([d["n_chars"] for d in docs], pa.int64()),
            }
        ),
        f"{shard_dir}/documents.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([e["vec_id"] for e in emb], pa.int64()),
                "embedding": pa.array([e["embedding"] for e in emb], pa.list_(pa.float32())),
                "label": pa.array([e["label"] for e in emb], pa.int32()),
            }
        ),
        f"{shard_dir}/embeddings.parquet",
    )
    return {**made, "n_emb": n_emb, "records": len(docs) + n_emb}
