"""Pure-Python output oracles, one per workload family.

Each function recomputes from the generated inputs what the program must
have produced, with no Spark involved, and returns a list of mismatch
descriptions (empty = the output is correct).

* Observability hour: the reference's semantics (src/data_processor.py
  enrichment with last-wins mappings; src/batch_tlb.py's ``last_start_time``
  register walk and event -> trace -> span -> log counts) over the three
  row lists.
* Maintained stores: a one-shot recount of every store over all hours
  folded so far.
* Corpus shard: exact-dedup survivors from normalized texts, chunk counts,
  no planted PII in the chunks, the token-budget invariant, and exact word
  3-gram Jaccard re-checked on every near-duplicate pair reported.
"""

from __future__ import annotations

import datetime as dt
import json
import re
from collections import Counter, defaultdict

COUNTED = {"RETRY": "retry_count", "TIMEOUT": "timeout_count", "ERROR": "error_count"}
STAGE_FILES = {
    "user_exp_processed": "user_exp",
    "trace_processed": "trace",
    "log_processed": "log",
}


def _strip_nulls(row: dict) -> dict:
    return {k: v for k, v in row.items() if v is not None}


def row_multiset(rows: list[dict]) -> list[str]:
    """Order-insensitive form of a JSON row list; absent == null."""
    return sorted(json.dumps(_strip_nulls(r), sort_keys=True) for r in rows)


def _epoch_s(ts: str) -> float:
    return dt.datetime.fromisoformat(ts).timestamp()


# ---------------------------------------------------------------------------
# observability hour


def expected_stage_outputs(ue: list[dict], tr: list[dict], lg: list[dict]) -> dict[str, list[dict]]:
    """Stage outputs of observability_correlation_pipeline.yaml: user_exp
    unchanged; traces enriched with clientId through trace_to_client;
    logs enriched with (traceId, clientId) through span_to_trace_client.
    Mappings keep the last occurrence in file order and skip null keys; a
    single-field mapping also skips null values."""
    trace_client: dict[str, str] = {}
    for e in ue:
        if e.get("traceId") is not None and e.get("clientId") is not None:
            trace_client[e["traceId"]] = e["clientId"]
    traces = []
    span_map: dict[str, tuple] = {}
    for t in tr:
        row = dict(t)
        row["clientId"] = trace_client.get(t["traceId"])
        traces.append(row)
        for s in t.get("spans") or []:
            if s.get("spanId") is not None:
                span_map[s["spanId"]] = (t["traceId"], row["clientId"])
    logs = []
    for entry in lg:
        row = dict(entry)
        hit = span_map.get(entry.get("spanId"))
        if hit is not None:
            row["traceId"], row["clientId"] = hit
        logs.append(row)
    return {"user_exp_processed": list(ue), "trace_processed": traces, "log_processed": logs}


def expected_tlb(ue: list[dict], tr: list[dict], lg: list[dict]) -> dict[str, dict]:
    """Per-client metrics of src/batch_tlb.py.

    page_view_time: each client's events in time order (stable on file
    order) walk one ``last_start_time`` register -- a start sets it, an end
    with a live register adds ``end - start`` seconds and clears it, other
    events leave it alone.  Counts: every event probes its trace's spans'
    logs (N events on one trace count its logs N times)."""
    by_client: dict[str, list[tuple[float, int, dict]]] = defaultdict(list)
    for i, e in enumerate(ue):
        by_client[e["clientId"]].append((_epoch_s(e["timestamp"]), i, e))
    out = {}
    for cid, evs in by_client.items():
        total, start = 0.0, None
        for ts, _, e in sorted(evs, key=lambda x: (x[0], x[1])):
            if e["eventType"] == "page_view_start":
                start = ts
            elif e["eventType"] == "page_view_end" and start is not None:
                total += ts - start
                start = None
        out[cid] = {"page_view_time": total, "retry_count": 0, "timeout_count": 0, "error_count": 0}
    spans_of: dict[str, list[str]] = defaultdict(list)
    for t in tr:
        spans_of[t["traceId"]].extend(s["spanId"] for s in t.get("spans") or [])
    types_of: dict[str, Counter] = defaultdict(Counter)
    for entry in lg:
        types_of[entry["spanId"]][entry["eventType"]] += 1
    for e in ue:
        tid = e.get("traceId")
        if tid is None:
            continue
        for sid in spans_of.get(tid, ()):
            for etype, n in types_of.get(sid, {}).items():
                if etype in COUNTED:
                    out[e["clientId"]][COUNTED[etype]] += n
    return out


def normalize_tlb(keyed: dict) -> dict:
    return {
        str(c): {
            "page_view_time": float(m["page_view_time"] or 0),
            "retry_count": int(m["retry_count"] or 0),
            "timeout_count": int(m["timeout_count"] or 0),
            "error_count": int(m["error_count"] or 0),
        }
        for c, m in keyed.items()
    }


def check_obs_hour(rows: dict[str, list[dict]], stage_out: dict[str, list[dict]], tlb: dict) -> list[str]:
    """Compare one hour's three stage outputs (full row multisets) and its
    TLB metrics against the oracle; reports row counts and enrichment
    coverage on mismatch."""
    ue, tr, lg = rows["user_exp"], rows["trace"], rows["log"]
    want = expected_stage_outputs(ue, tr, lg)
    errors = []
    for name, want_rows in want.items():
        got = stage_out[name]
        if row_multiset(got) != row_multiset(want_rows):
            cov = lambda rs: sum(1 for r in rs if r.get("clientId") is not None)  # noqa: E731
            errors.append(
                f"{name}: {len(got)} rows ({cov(got)} enriched), "
                f"expected {len(want_rows)} ({cov(want_rows)} enriched)"
            )
    want_tlb = expected_tlb(ue, tr, lg)
    got_tlb = normalize_tlb(tlb)
    if got_tlb != want_tlb:
        bad = sorted(c for c in set(got_tlb) | set(want_tlb) if got_tlb.get(c) != want_tlb.get(c))
        errors.append(f"tlb_metrics: {len(bad)} clients differ, e.g. {bad[:3]}")
    return errors


# ---------------------------------------------------------------------------
# maintained stores (obs_trickle)


def _micros(ts: str) -> int:
    return int(_epoch_s(ts)) * 1_000_000


def expected_stores(hours: list[tuple[int, dict]], *, delete_event: str, gap_s: int, cap_s: int) -> dict:
    """Recount every maintained store over ``hours`` = [(hour index, rows)]:
    per-client event counts, gap+cap sessions, CDC last page (deletes
    remove the key), per-level postings stats, per-(page, client) totals and
    min-label connected components of the client<->page graph."""
    agg, topk = Counter(), Counter()
    ts_of: dict[str, list[int]] = defaultdict(list)
    last: dict[str, tuple] = {}
    post_df, post_tf = Counter(), Counter()
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for hidx, rows in hours:
        for e in rows["user_exp"]:
            cid = e["clientId"]
            agg[cid] += 1
            topk[(e["page"], cid)] += 1
            ts_of[cid].append(_micros(e["timestamp"]))
            key = (hidx, e["eventId"])
            if cid not in last or key > last[cid][0]:
                last[cid] = (key, e["page"], e["eventType"] == delete_event)
            if e["eventType"] != delete_event:
                a, b = find(cid), find(e["page"])
                if a != b:
                    parent[max(a, b)] = min(a, b)
        per_doc = Counter((entry["logId"], entry["level"]) for entry in rows["log"])
        for (_, level), tf in per_doc.items():
            post_df[level] += 1
            post_tf[level] += tf
    sessions = set()
    gap_us, cap_us = gap_s * 1_000_000, cap_s * 1_000_000
    for cid, ts in ts_of.items():
        ts.sort()
        n, start, first, prev = 0, 0, ts[0], ts[0]
        for i, t in enumerate(ts[1:], 1):
            if t - prev > gap_us or t > first + cap_us:
                n += 1
                sessions.add((cid, n, i - start, first, prev))
                start, first = i, t
            prev = t
        sessions.add((cid, n + 1, len(ts) - start, first, prev))
    return {
        "agg": dict(agg),
        "sessions": sessions,
        "cdc": {c: (k[0], page) for c, (k, page, deleted) in last.items() if not deleted},
        "postings": {t: (post_df[t], post_tf[t]) for t in post_df},
        "topk": dict(topk),
        "cc": {node: find(node) for node in list(parent)},
    }


def check_stores(got: dict, want: dict) -> list[str]:
    return [
        f"store {name}: {len(got[name])} entries, expected {len(want[name])}"
        for name in want
        if got[name] != want[name]
    ]


# ---------------------------------------------------------------------------
# corpus shard

# the curate stage's chunk op in pipelines/corpus_curation_pipeline.yaml
CHUNK_TOKENS, CHUNK_STRIDE = 64, 48
# operators.dedup.minhash_lsh_pairs' default threshold, which the corpus
# batch uses
JACCARD_THRESHOLD_E6 = 500_000

_TOKEN = re.compile(r"[^ \t\n\x0b\f\r]+")  # Java's \S
_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")


def _tokens(text: str) -> list[str]:
    return _TOKEN.findall(text)


def _passes_quality(toks: list[str]) -> bool:
    """The curate stage's filter: n_tokens >= 5 and unique ratio >= 0.2."""
    return len(toks) >= 5 and 1_000_000 * len(set(toks)) >= 200_000 * len(toks)


def _n_chunks(n_tokens: int) -> int:
    upper = min(max(n_tokens - CHUNK_TOKENS + CHUNK_STRIDE, 1), max(n_tokens, 1))
    return len(range(1, upper + 1, CHUNK_STRIDE))


def expected_curate(docs: list[dict]) -> tuple[set[int], int]:
    """(surviving doc ids, chunk count) of the curate stage: quality gate,
    exact dedup on the lowercased whitespace-collapsed text keeping the
    lowest id, then 64-token chunks at stride 48."""
    keeper: dict[str, dict] = {}
    for d in docs:
        if not _passes_quality(_tokens(d["text"])):
            continue
        norm = _SPACE.sub(" ", d["text"].lower()).strip()
        if norm not in keeper or d["doc_id"] < keeper[norm]["doc_id"]:
            keeper[norm] = d
    ids = {d["doc_id"] for d in keeper.values()}
    return ids, sum(_n_chunks(len(_tokens(d["text"]))) for d in keeper.values())


def shingles3(text: str) -> set[tuple[str, str, str]]:
    t = _tokens(text)
    return {tuple(t[i : i + 3]) for i in range(len(t) - 2)}


def check_pairs(pairs: list[tuple], text_of: dict[int, str]) -> list[str]:
    """Every reported (id_a, id_b, inter, uni, jaccard_e6) must carry the
    exact word-3-gram intersection, union and floor(1e6 * J), at or above
    the threshold, with id_a < id_b."""
    errors = []
    for id_a, id_b, inter, uni, j_e6 in pairs:
        a, b = shingles3(text_of[id_a]), shingles3(text_of[id_b])
        want_i, want_u = len(a & b), len(a | b)
        want_j = want_i * 1_000_000 // want_u if want_u else 0
        if id_a >= id_b or (inter, uni, j_e6) != (want_i, want_u, want_j) or j_e6 < JACCARD_THRESHOLD_E6:
            errors.append(f"pair ({id_a}, {id_b}): got {(inter, uni, j_e6)}, exact {(want_i, want_u, want_j)}")
    return errors


def check_corpus_shard(shard: dict, out: dict) -> list[str]:
    """``out`` holds what the shard's batch produced: curated doc ids,
    chunk count and chunk tokens, and the MinHash pairs.  The curate stage
    scrubs PII, so no planted e-mail or phone token may reach a chunk."""
    errors = []
    ids, n_chunks = expected_curate(shard["docs"])
    if out["curate_ids"] != ids:
        errors.append(
            f"curate: {len(out['curate_ids'])} surviving docs, expected {len(ids)} distinct"
        )
    if out["curate_chunks"] != n_chunks:
        errors.append(f"curate: {out['curate_chunks']} chunks, expected {n_chunks}")
    leaked = out["chunk_tokens"] & set(shard["pii"])
    if leaked:
        errors.append(f"curate: {len(leaked)} of {len(shard['pii'])} planted PII strings in chunks")
    text_of = {d["doc_id"]: d["text"] for d in shard["docs"]}
    errors += check_pairs(out["pairs"], text_of)[:5]
    return errors


def check_other_stages(shard: dict, out: dict) -> list[str]:
    """The budget quota sum, the vector row count and the per-language
    sample sizes of the YAML's budget, vectors and entropy_sample stages."""
    errors = []
    if out["budget_sum"] != 10_000_000:
        errors.append(f"budget: quotas sum to {out['budget_sum']}, expected 10000000")
    if out["vector_rows"] != shard["n_emb"]:
        errors.append(f"vectors: {out['vector_rows']} rows, expected {shard['n_emb']}")
    over = {k: n for k, n in out["sample_sizes"].items() if n > 10}
    if over:
        errors.append(f"entropy_sample: strata above k=10: {over}")
    return errors


def minhash_recall(pairs: list[tuple], planted: list[tuple[int, int]]) -> float:
    found = {(a, b) for a, b, *_ in pairs}
    hit = sum(1 for a, b in planted if (min(a, b), max(a, b)) in found)
    return hit / len(planted) if planted else 1.0
