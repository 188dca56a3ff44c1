"""Seeded input generators for the benchmark.

Every input the program sees is made here from the run's seed: the
normalized message archive that CacheBuilder turns into the Parquet star,
the refresh batches, the curation corpus and the reader call plan. The
same seed gives byte-identical inputs; the program receives only the
files written here.

Row fan-out (recipients, labels, attachments, deletions) is a function of
the message id alone, so table sizes have closed forms (`expected_*`)
that the checker compares against without reading the generator's data.
Content (who sent what, words, dates, vectors) comes from the seed.

Rebuild any input by hand with, for example:

    python3 perfbench/gen.py archive --seed 7 --out inputs-7
"""

import hashlib
import json
import math
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes

STAR_MESSAGES = 50_000          # the archive's base star
STAR_PARTICIPANTS = 2_000
STAR_DOMAINS = 40
STAR_CONVERSATIONS = 12_500
STAR_YEARS = (2019, 2025)       # sent_at spans [2019-01-01, 2025-01-01)
VECTOR_DIM = 32
REFRESH_BATCH_SIZE = 2_000      # new messages landed per archive round
MIN_ARCHIVE_BATCHES = 4         # refresh batches generated at least
MIN_ROUND_S = 4                 # batches for one round per this many s of window
EXPORT_ROWS = 50_000            # exactly one default shard's worth
SEARCH_RANKS = slice(20, 200)   # search terms: mid-frequency vocabulary words
SESSIONS = 64                   # reader sessions planned per run

CURATE_DOCS = 20_000            # 4x the sf0.1 documents table
CURATE_VECS = 16_000            # 8x the sf0.1 embeddings table
CURATE_DIM = 64
CURATE_NEAR_DUP_SHARE = 0.03    # planted near-duplicate documents
CURATE_BIG_CLUSTER_SHARE = 0.30  # vectors planted around one centroid
CURATE_NLIST = 16               # = the registry's semdedup_assign_16

LABELS = ["INBOX", "SENT", "IMPORTANT", "STARRED", "work", "family",
          "travel", "receipts", "newsletters", "projects", "finance",
          "archive-2019"]
SOURCES = [(1, "alice@example.com", "gmail", "Alice"),
           (2, "bob@example.org", "gmail", "Bob"),
           (3, "carol@example.net", "imap", "Carol")]
UTC_US = pa.timestamp("us", tz="UTC")


def _rng(seed, *tag):
    return np.random.default_rng([int(seed) & 0xFFFFFFFF, *tag])


def vocab():
    """Fixed 480-word vocabulary (not seeded: it is part of the benchmark)."""
    on = ["b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
          "v", "z", "br", "st", "tr", "gr", "pl"]
    nu = ["a", "e", "i", "o", "u", "ai", "ou", "ea"]
    co = ["n", "r", "s", "t", "l", "x", "m"]
    words = []
    for i, a in enumerate(on):
        for j, b in enumerate(nu):
            for k, c in enumerate(co):
                if (i * 7 + j * 3 + k) % 2 == 0:
                    words.append(a + b + c)
    return words[:480]


VOCAB = vocab()


def zipf_weights(n, s=1.1):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _phrases(rng, n, lo, hi, weights):
    lens = rng.integers(lo, hi + 1, size=n)
    idx = rng.choice(len(VOCAB), size=int(lens.sum()), p=weights)
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[i] for i in idx[pos:pos + ln]))
        pos += ln
    return out


# ------------------------------------------------------ closed-form fan-out

def is_dedup_loser(mid):
    """deleted_at set: CacheBuilder leaves these out of the star."""
    return mid % 101 == 0


def expected_star_counts(first_id, last_id):
    """Rows the star holds for input ids [first_id, last_id]: one `from`
    and 1 + id % 3 `to` recipients, a `cc` every 5th id, id % 3 labels and
    an attachment every 4th id, for every id but the dedup losers."""
    ids = np.arange(first_id, last_id + 1)
    live = ids[ids % 101 != 0]
    return {
        "messages": int(live.size),
        "message_recipients": int((1 + 1 + live % 3 + (live % 5 == 0)).sum()),
        "message_labels": int((live % 3).sum()),
        "attachments": int((live % 4 == 0).sum()),
    }


def export_id_bound(rows=EXPORT_ROWS):
    """Smallest X such that exactly `rows` star messages have id <= X."""
    x = rows
    while x - x // 101 < rows:
        x += 1
    return x


# ------------------------------------------------------------ star input

def star_dims(seed):
    rng = _rng(seed, 1)
    firsts = ["ann", "ben", "cid", "dee", "eve", "fay", "gus", "hal", "ida",
              "jon", "kai", "lea", "max", "ned", "oli", "pam"]
    domains = [f"{VOCAB[(7 * k) % len(VOCAB)]}{k}.com" for k in range(STAR_DOMAINS)]
    pid = np.arange(1, STAR_PARTICIPANTS + 1)
    dom_idx = rng.choice(STAR_DOMAINS, size=pid.size, p=zipf_weights(STAR_DOMAINS, 0.9))
    first_idx = rng.integers(0, len(firsts), size=pid.size)
    last_idx = rng.integers(0, len(VOCAB), size=pid.size)
    emails = [f"{firsts[f]}.{VOCAB[l]}{p}@{domains[d]}"
              for p, f, l, d in zip(pid, first_idx, last_idx, dom_idx)]
    names = [f"{firsts[f].title()} {VOCAB[l].title()}"
             for f, l in zip(first_idx, last_idx)]
    participants = pa.table({
        "id": pa.array(pid, pa.int64()),
        "email_address": emails,
        "display_name": names,
        "phone_number": pa.array([None] * pid.size, pa.string()),
        "domain": [domains[d] for d in dom_idx],
    })
    labels = pa.table({"id": pa.array(np.arange(1, len(LABELS) + 1), pa.int64()),
                       "name": LABELS})
    cid = np.arange(1, STAR_CONVERSATIONS + 1)
    conversations = pa.table({
        "id": pa.array(cid, pa.int64()),
        "source_conversation_id": [f"thread-{c}" for c in cid],
        "title": _phrases(rng, cid.size, 2, 4, zipf_weights(len(VOCAB))),
        "conversation_type": ["email_thread"] * cid.size,
    })
    sources = pa.table({
        "id": pa.array([s[0] for s in SOURCES], pa.int64()),
        "identifier": [s[1] for s in SOURCES],
        "source_type": [s[2] for s in SOURCES],
        "display_name": [s[3] for s in SOURCES],
    })
    return {"participants": participants, "labels": labels,
            "conversations": conversations, "sources": sources}


def _topic_centers(seed, n, dim):
    c = _rng(seed, 9).standard_normal((n, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def star_slice(seed, first_id, last_id):
    """Messages [first_id, last_id] and every row that hangs off them."""
    rng = _rng(seed, 2, first_id)
    ids = np.arange(first_id, last_id + 1, dtype=np.int64)
    n = ids.size
    pw = zipf_weights(STAR_PARTICIPANTS, 1.05)
    vw = zipf_weights(len(VOCAB))
    t0 = np.datetime64(f"{STAR_YEARS[0]}-01-01T00:00:00", "us").astype(np.int64)
    t1 = np.datetime64(f"{STAR_YEARS[1]}-01-01T00:00:00", "us").astype(np.int64)
    sent = rng.integers(t0 // 1_000_000, t1 // 1_000_000, size=n) * 1_000_000
    sender = rng.choice(STAR_PARTICIPANTS, size=n, p=pw) + 1
    att = ids % 4 == 0
    deleted_at = np.where(ids % 101 == 0, sent + 86_400_000_000, 0)
    # source deletions only in the base: refresh batches are new, undeleted
    # mail (a new row that arrives already deleted forces a full rebuild)
    dfs = np.where((ids % 53 == 0) & (ids % 101 != 0) & (ids <= STAR_MESSAGES),
                   sent + 3_600_000_000, 0)
    messages = pa.table({
        "id": pa.array(ids),
        "source_id": pa.array(ids % 3 + 1),
        "conversation_id": pa.array(rng.integers(1, STAR_CONVERSATIONS + 1, size=n)),
        "sender_id": pa.array(sender.astype(np.int64)),
        "source_message_id": [f"msg-{i:08d}" for i in ids],
        "rfc822_message_id": [f"<{i}.{seed}@mail.example>" for i in ids],
        "message_type": ["email"] * n,
        "subject": _phrases(rng, n, 2, 5, vw),
        "snippet": _phrases(rng, n, 6, 12, vw),
        "sent_at": pa.array(sent, UTC_US),
        "size_estimate": pa.array(rng.lognormal(8.5, 0.8, size=n).astype(np.int64)),
        "has_attachments": pa.array(att),
        "attachment_count": pa.array(att.astype(np.int32)),
        "deleted_at": pa.array(np.where(deleted_at > 0, deleted_at, None), UTC_US),
        "deleted_from_source_at": pa.array(np.where(dfs > 0, dfs, None), UTC_US),
        "is_from_me": pa.array(sender == 1),
        "archived_at": pa.array([None] * n, UTC_US),
    })
    # recipients: one 'from' (the sender), 1..3 'to', a 'cc' every 5th id
    r_mid, r_pid, r_type = [ids], [sender.astype(np.int64)], [["from"] * n]
    for k in range(3):
        sel = ids[(ids % 3) >= k]
        r_mid.append(sel)
        r_pid.append((rng.choice(STAR_PARTICIPANTS, size=sel.size, p=pw) + 1).astype(np.int64))
        r_type.append(["to"] * sel.size)
    sel = ids[ids % 5 == 0]
    r_mid.append(sel)
    r_pid.append((rng.choice(STAR_PARTICIPANTS, size=sel.size, p=pw) + 1).astype(np.int64))
    r_type.append(["cc"] * sel.size)
    recipients = pa.table({
        "message_id": pa.array(np.concatenate(r_mid)),
        "participant_id": pa.array(np.concatenate(r_pid)),
        "recipient_type": [t for ts in r_type for t in ts],
        "display_name": pa.array([None] * sum(len(t) for t in r_type), pa.string()),
    })
    # labels: id % 3 distinct labels per message
    lw = zipf_weights(len(LABELS), 0.8)
    l_mid, l_lid = [], []
    for k in (1, 2):
        sel = ids[ids % 3 >= k]
        l_mid.append(sel)
        if k == 1:
            first = rng.choice(len(LABELS), size=sel.size, p=lw)
            l_lid.append(first)
        else:
            prev = dict(zip(l_mid[0].tolist(), l_lid[0].tolist()))
            second = (np.array([prev[m] for m in sel.tolist()], dtype=np.int64)
                      + rng.integers(1, len(LABELS), size=sel.size)) % len(LABELS)
            l_lid.append(second)
    message_labels = pa.table({
        "message_id": pa.array(np.concatenate(l_mid)),
        "label_id": pa.array(np.concatenate(l_lid).astype(np.int64) + 1),
    })
    a_mid = ids[att]
    attachments = pa.table({
        "id": pa.array(a_mid),
        "message_id": pa.array(a_mid),
        "filename": [f"file-{m}.pdf" for m in a_mid],
        "mime_type": ["application/pdf"] * a_mid.size,
        "size": pa.array(rng.integers(1_000, 2_000_000, size=a_mid.size)),
        "content_hash": [hashlib.sha256(f"{seed}:{m}".encode()).hexdigest() for m in a_mid],
    })
    bodies = pa.table({
        "message_id": pa.array(ids),
        "body_text": _phrases(rng, n, 20, 45, vw),
        "body_html": pa.array([None] * n, pa.string()),
    })
    centers = _topic_centers(seed, 50, VECTOR_DIM)
    vec = centers[rng.integers(0, 50, size=n)] + 0.35 * rng.standard_normal((n, VECTOR_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    vectors = pa.table({
        "message_id": pa.array(ids),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
    })
    return {"messages": messages, "message_recipients": recipients,
            "message_labels": message_labels, "attachments": attachments,
            "bodies": bodies, "vectors": vectors}


STAR_TABLES = ["messages", "message_recipients", "message_labels",
               "attachments", "participants", "labels", "conversations",
               "sources"]


def write_tables(tables, out_dir, part):
    for name, t in tables.items():
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
        pq.write_table(t, os.path.join(out_dir, name, f"{part}.parquet"))


def write_star_input(out_dir, seed, first_id, last_id, part="base", dims=True):
    tables = star_slice(seed, first_id, last_id)
    if dims:
        tables.update(star_dims(seed))
    write_tables(tables, out_dir, part)


# ------------------------------------------------------------ reader plan

def reader_plan(seed, sessions=SESSIONS):
    """Seeded drill-down sessions of MsgEngine calls (one client, closed loop).

    Drill-down keys come from skewed draws over the generator's own
    dimension values, search terms from the mid-frequency vocabulary.
    Each session returns to its searchFastWithStats query once (search,
    open a result, back to the search): the engine's search cache, which
    belongs to the MsgEngine that each refresh reopens, sees one miss and
    one hit per session on every seed.
    """
    rng = _rng(seed, 4)
    dims = star_dims(seed)
    emails = dims["participants"].column("email_address").to_pylist()
    domains = sorted(set(dims["participants"].column("domain").to_pylist()))
    pw = zipf_weights(len(emails), 1.05)
    dw = zipf_weights(len(domains), 0.9)
    lw = zipf_weights(len(LABELS), 0.8)
    terms = VOCAB[SEARCH_RANKS]
    deep_terms = [str(w) for w in rng.choice(VOCAB[40:240], size=48, replace=False)]
    dtw = zipf_weights(len(deep_terms), 1.0)
    views = ["Senders", "Domains", "Labels", "Recipients", "Time"]
    plan = []
    for s in range(sessions):
        sender = emails[rng.choice(len(emails), p=pw)]
        domain = domains[rng.choice(len(domains), p=dw)]
        label = LABELS[rng.choice(len(LABELS), p=lw)]
        year = int(rng.integers(STAR_YEARS[0], STAR_YEARS[1]))
        drill = [("sender", sender), ("domain", domain), ("label", label)][s % 3]
        stats_query = terms[rng.integers(len(terms))]
        plan.append([
            {"call": "aggregate", "view": views[s % len(views)], "limit": 20},
            {"call": "subAggregate", "view": ["Labels", "Senders", "Domains"][s % 3],
             "filter": {drill[0]: drill[1]}, "limit": 20},
            {"call": "listMessages", "filter": {drill[0]: drill[1]}, "limit": 50},
            {"call": "listMessagesAfter", "filter": {"year": year}, "limit": 50,
             "page": 1},
            {"call": "listMessagesAfter", "filter": {"year": year}, "limit": 50,
             "page": 2},
            {"call": "messageDetail",
             "fallback_id": int(rng.integers(1, STAR_MESSAGES + 1))},
            {"call": "messageSummariesByIds", "n": 10},
            {"call": "searchFast", "query": terms[rng.integers(len(terms))],
             "limit": 50},
            {"call": "searchFastWithStats", "query": stats_query, "limit": 50},
            {"call": "searchByDomains", "domains": [domain], "limit": 50},
            {"call": "searchDeep", "query": deep_terms[rng.choice(len(deep_terms), p=dtw)],
             "limit": 50},
            # the reader returns to the earlier search: a search-cache hit
            {"call": "searchFastWithStats", "query": stats_query, "limit": 50},
            {"call": "findSimilarMessages", "seed_id": int(rng.integers(1, STAR_MESSAGES + 1)),
             "limit": 20},
        ])
    return plan


# ---------------------------------------------------------- curate corpus

def md5_draw(i):
    """The registry's cross-engine draw: first 15 hex digits of md5(id)."""
    return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)


def stride_centroid_ids(vec_ids, n_list=CURATE_NLIST):
    """Replays Similarity.strideCentroids' md5-stride pick."""
    stride = max(1, len(vec_ids) // n_list)
    picks = sorted(int(v) for v in vec_ids if md5_draw(int(v)) % stride == 0)
    return picks[:n_list]


def curate_corpus(seed, n_docs, n_vecs):
    rng = _rng(seed, 5, n_docs)
    vw = zipf_weights(len(VOCAB), 0.8)
    texts = _phrases(rng, n_docs, 30, 70, vw)
    n_dup = int(n_docs * CURATE_NEAR_DUP_SHARE)
    dup_ids = rng.choice(np.arange(n_docs // 2, n_docs), size=n_dup, replace=False)
    planted = []
    for d in sorted(dup_ids.tolist()):
        src = int(rng.integers(0, n_docs // 2))
        toks = texts[src].split(" ")
        for _ in range(int(rng.integers(1, 3))):
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[d] = " ".join(toks)
        planted.append((src, d))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": [f"src{i % 5}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    # every vector is planted around one md5-stride centroid, so each
    # cluster's size (and the quadratic work inside it) is the same on
    # every seed: CURATE_BIG_CLUSTER_SHARE of them around one "hub"
    # centroid, the rest dealt evenly over the others
    vec_ids = np.arange(n_vecs, dtype=np.int64)
    cents = stride_centroid_ids(vec_ids)
    centers = _topic_centers(seed + 1, len(cents), CURATE_DIM)
    hub = int(rng.integers(0, len(cents)))
    others = rng.permutation(np.setdiff1d(vec_ids, np.array(cents)))
    n_big = int(n_vecs * CURATE_BIG_CLUSTER_SHARE)
    home = np.empty(n_vecs, dtype=np.int64)
    home[others[:n_big]] = hub
    rest = [j for j in range(len(cents)) if j != hub]
    home[others[n_big:]] = np.array(rest)[np.arange(others.size - n_big) % len(rest)]
    home[np.array(cents)] = np.arange(len(cents))
    spread = np.where(home == hub, 0.25, 0.5) / np.sqrt(CURATE_DIM)
    vec = centers[home] + spread[:, None] * rng.standard_normal((n_vecs, CURATE_DIM))
    vec[np.array(cents)] = centers
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(vec_ids),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array((vec_ids % 10).astype(np.int32)),
    })
    meta = {"planted_pairs": planted, "hub": int(cents[hub]),
            "big_cluster": int((home == hub).sum())}
    return documents, embeddings, meta


def write_curate(out_dir, seed, n_docs, n_vecs):
    documents, embeddings, meta = curate_corpus(seed, n_docs, n_vecs)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))
    with open(os.path.join(out_dir, "planted.json"), "w") as f:
        json.dump(meta, f)


# ------------------------------------------------------------- per workload

def archive_batches(seconds):
    """Refresh batches for a window of `seconds`: one per MIN_ROUND_S of it
    and one more, at least MIN_ARCHIVE_BATCHES. Rounds stop early only if
    the batches run out, which takes rounds shorter than MIN_ROUND_S."""
    return max(MIN_ARCHIVE_BATCHES, math.ceil(seconds / MIN_ROUND_S) + 1)


def generate(workload, seed, out, seconds):
    """Write every input of a `seconds` run of `workload` under `out`;
    returns a summary."""
    os.makedirs(out, exist_ok=True)
    summary = {"workload": workload, "seed": seed}
    if workload == "archive":
        write_star_input(os.path.join(out, "base"), seed, 1, STAR_MESSAGES)
        n_batches = archive_batches(seconds)
        for k in range(1, n_batches + 1):
            lo = STAR_MESSAGES + (k - 1) * REFRESH_BATCH_SIZE + 1
            write_star_input(os.path.join(out, f"batch{k}"), seed, lo,
                             lo + REFRESH_BATCH_SIZE - 1, part=f"batch{k}", dims=False)
        plan = reader_plan(seed)
        with open(os.path.join(out, "plan.json"), "w") as f:
            json.dump(plan, f)
        summary["refresh_batches"] = n_batches
        summary["export_id_bound"] = export_id_bound()
    elif workload == "curate":
        write_curate(os.path.join(out, "corpus"), seed, CURATE_DOCS, CURATE_VECS)
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(summary, f)
    return summary


if __name__ == "__main__":
    import argparse
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workload", choices=["archive", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, default=5,
                    help="the run's window (sets the number of refresh batches)")
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out, a.seconds)))
    sys.exit(0)
