"""Checks every operation's output apart from the program.

Runs after the timed window. Each check either replays the operation as
DuckDB SQL or numpy over the generator's own files, or tests a property
the method must have. A wrong output fails that operation; the run goes
on. `check()` returns the failed operation ids, whether every failure is
a known fault (KNOWN_FAULTS), and the problems found.
"""

import json
import math
import os
import re

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen

# The one problem the export shows on every run because of a fault in the
# program: Export.writeMbox sizes shards as rows / 50,000 + 1, so exactly
# 50,000 rows are written as 2 shards, not ceil(rows / 50,000) = 1.
SHARD_FAULT = "shard count"

# operation name -> the problem prefix a known fault gives it. An operation
# is excused only when every problem it has is that one; it still counts
# in `failed`, and `correct` speaks of the other operations.
KNOWN_FAULTS = {"export": SHARD_FAULT}

TOL = 1e-9


def load_outputs(work):
    out = {}
    path = os.path.join(work, "outputs.jsonl")
    if os.path.exists(path):
        with open(path) as f:
            for ln in f:
                if ln.strip():
                    rec = json.loads(ln)
                    out[rec["op"]] = rec
    return out


def check(workload, work, result):
    outputs = load_outputs(work)
    problems = {}
    for o in result["ops"]:
        if o["error"]:
            problems.setdefault(o["id"], []).append(f"raised {o['error']}")
        elif o["id"] not in outputs:
            problems.setdefault(o["id"], []).append("no output recorded")
    checks = {"archive": (check_reader, check_writes),
              "curate": (check_curate,)}[workload]
    for fn in checks:
        try:
            found = fn(work, result, outputs)
        except Exception as e:  # an output the checks cannot even read
            found = {o["id"]: [f"{fn.__name__} raised {e!r}"] for o in result["ops"]}
        for op, ps in found.items():
            if ps:
                problems.setdefault(op, []).extend(ps)
    return verdict(result["ops"], problems)


def known_fault(name, probs):
    """True when every problem of operation `name` is its known fault."""
    fault = KNOWN_FAULTS.get(name)
    return fault is not None and all(p.startswith(fault) for p in probs)


def verdict(ops, problems):
    """correct / failed / problems from each operation's problem list."""
    names = {o["id"]: o["name"] for o in ops}
    failed = sorted(op for op, ps in problems.items() if ps)
    unexpected = [op for op in failed if not known_fault(names.get(op), problems[op])]
    flat = [f"{op} {names.get(op)}: {p}" for op in failed for p in problems[op]]
    return {"correct": not unexpected, "failed": failed, "problems": flat}


# ------------------------------------------------------------ reader calls

def connect():
    """DuckDB that never downloads an extension."""
    db = duckdb.connect(config={"autoinstall_known_extensions": False,
                                "autoload_known_extensions": False})
    return db


def _star_db(star, inputs):
    db = connect()
    db.execute(f"""CREATE VIEW messages AS SELECT * EXCLUDE (batch, year)
        FROM read_parquet('{star}/messages/*/*/*.parquet', hive_partitioning = true)""")
    for t in ("message_recipients", "message_labels", "attachments"):
        db.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star}/{t}/*/*.parquet')")
    for t in ("participants", "labels", "conversations", "sources"):
        db.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star}/{t}/*.parquet')")
    db.execute(f"CREATE VIEW bodies AS SELECT * FROM read_parquet('{inputs}/bodies/*.parquet')")
    db.execute("""CREATE VIEW from_party AS
        SELECT mr.message_id, p.email_address, p.display_name, p.domain
        FROM message_recipients mr JOIN participants p ON p.id = mr.participant_id
        WHERE mr.recipient_type = 'from'""")
    return db


def _desc_sorted(rows):
    keys = [(r[1], r[0]) for r in rows]
    return all(a > b for a, b in zip(keys, keys[1:]))


AGG_KEY = {
    "Senders": ("JOIN from_party f ON f.message_id = m.id", "f.email_address"),
    "Domains": ("JOIN from_party f ON f.message_id = m.id", "f.domain"),
    "Labels": ("""JOIN message_labels ml ON ml.message_id = m.id
                  JOIN labels l ON l.id = ml.label_id""", "l.name"),
    "Recipients": ("""JOIN message_recipients mr ON mr.message_id = m.id
                      AND mr.recipient_type IN ('to', 'cc', 'bcc')
                      JOIN participants p ON p.id = mr.participant_id""",
                   "p.email_address"),
    "Time": ("", "strftime(m.sent_at AT TIME ZONE 'UTC', '%Y-%m')"),
}


def _drill_sql(flt):
    """WHERE fragment for a plan filter (live rows, sources deleted hidden)."""
    conds = ["m.deleted_from_source_at IS NULL"]
    for k, v in (flt or {}).items():
        if k == "sender":
            conds.append(f"""m.id IN (SELECT message_id FROM from_party
                WHERE email_address = '{v}') OR m.sender_id IN
                (SELECT id FROM participants WHERE email_address = '{v}')""")
        elif k == "domain":
            conds.append(f"m.id IN (SELECT message_id FROM from_party WHERE domain = '{v}')")
        elif k == "label":
            conds.append(f"""m.id IN (SELECT ml.message_id FROM message_labels ml
                JOIN labels l ON l.id = ml.label_id WHERE lower(l.name) = lower('{v}'))""")
        elif k == "year":
            conds.append(f"""m.sent_at >= TIMESTAMPTZ '{v}-01-01 00:00:00+00'
                AND m.sent_at < TIMESTAMPTZ '{v + 1}-01-01 00:00:00+00'""")
    return " AND ".join(f"({c})" for c in conds)


def _aggregate_ok(db, call, rows, drill):
    """Replays aggregate / subAggregate as DuckDB SQL: each returned key's
    count, and the whole page against the replay's top keys (count desc,
    key asc)."""
    join, key = AGG_KEY[call["view"]]
    where = _drill_sql(call.get("filter")) if drill else "TRUE"
    ref = dict(db.execute(f"""SELECT {key} AS k, count(*) FROM messages m {join}
        WHERE {where} AND {key} IS NOT NULL GROUP BY 1""").fetchall())
    probs = []
    for k, c in rows:
        if ref.get(k) != c:
            probs.append(f"key {k!r}: count {c}, replay {ref.get(k)}")
    want = sorted(ref.items(), key=lambda kc: (-kc[1], kc[0]))[:call["limit"]]
    if [tuple(r) for r in rows] != [tuple(w) for w in want]:
        probs.append("top keys differ from the replay")
    return probs


def _vectors(path, id_col):
    """(ids ascending, float64 matrix) of a parquet vector table."""
    t = pq.read_table(path).sort_by(id_col)
    emb = t.column("embedding").combine_chunks()
    dim = len(emb[0])
    return (t.column(id_col).to_numpy(),
            emb.flatten().to_numpy().astype(np.float64).reshape(-1, dim))


def _tokens(text):
    return [t for t in re.split(r"[^0-9a-z]+", (text or "").lower()) if t]


def check_reader(work, result, outputs):
    """Reader calls. Every call is held to its properties; calls of the
    last round, which saw the star as it is now, are also replayed."""
    star, inputs = result["star"], result["input"]
    last_round = max((o["round"] for o in result["ops"]), default=0)
    db = _star_db(star, inputs)
    vec_ids, vectors = _vectors(os.path.join(inputs, "vectors"), "message_id")
    live = set(r[0] for r in db.execute(
        "SELECT id FROM messages WHERE deleted_from_source_at IS NULL").fetchall())
    problems = {}
    previous = {}
    for o in result["ops"]:
        rec = outputs.get(o["id"])
        if rec is None:
            continue
        if "call" not in rec:
            continue
        call, rows, probs = rec["call"], rec.get("rows", []), []
        name = call["call"]
        replay = o["round"] == last_round
        limit = call.get("limit")
        summary = rec.get("cols") and rec["cols"][0] == "id" and name != "messageDetail"
        if limit is not None and len(rows) > limit:
            probs.append(f"{len(rows)} rows over limit {limit}")
        if summary and any(r[6] is not None for r in rows):
            probs.append("a source-deleted message is shown")
        if name in ("aggregate", "subAggregate"):
            keys = [(-c, k) for k, c in rows]
            if keys != sorted(keys):
                probs.append("not ordered by count desc, key asc")
            if replay:
                probs += _aggregate_ok(db, call, rows, name == "subAggregate")
        elif name in ("listMessages", "listMessagesAfter", "searchFast",
                      "searchFastWithStats", "searchByDomains", "searchDeep"):
            if not _desc_sorted(rows):
                probs.append("not in (sent_at, id) descending order")
        if name in ("listMessages", "listMessagesAfter") and replay:
            want = [r[0] for r in db.execute(f"""SELECT m.id FROM messages m
                WHERE {_drill_sql(call.get('filter'))}
                {'' if rec.get('cursor') is None else
                 f"AND (epoch_us(m.sent_at), m.id) < ({rec['cursor'][0]}, {rec['cursor'][1]})"}
                ORDER BY m.sent_at DESC, m.id DESC LIMIT {limit}""").fetchall()]
            if [r[0] for r in rows] != want:
                probs.append("page differs from the DuckDB replay")
        if name == "listMessagesAfter" and call.get("page") == 2:
            first = previous.get("listMessagesAfter")
            if first is None:
                probs.append("no first page to continue from")
            else:
                last = (first[-1][1], first[-1][0]) if first else None
                if last and any((r[1], r[0]) >= last for r in rows):
                    probs.append("keyset page is not strictly after the previous page")
                if {r[0] for r in rows} & {r[0] for r in first}:
                    probs.append("keyset page overlaps the previous page")
        if name in ("searchFast", "searchFastWithStats"):
            term = call["query"].lower()
            for r in rows:
                if not any(term in (x or "").lower() for x in (r[2], r[3], r[4], r[5])):
                    probs.append(f"hit {r[0]} does not contain {term!r}")
                    break
            if name == "searchFastWithStats" and replay:
                n = db.execute(f"""SELECT count(*) FROM messages m
                    WHERE m.deleted_from_source_at IS NULL AND (
                      contains(lower(m.subject), '{term}') OR
                      contains(lower(coalesce(m.snippet, '')), '{term}') OR
                      m.id IN (SELECT message_id FROM from_party WHERE
                        contains(lower(email_address), '{term}') OR
                        contains(lower(coalesce(display_name, '')), '{term}')) OR
                      m.sender_id IN (SELECT id FROM participants WHERE
                        contains(lower(email_address), '{term}') OR
                        contains(lower(coalesce(display_name, '')), '{term}')))
                    """).fetchone()[0]
                if rec.get("total") != n:
                    probs.append(f"total {rec.get('total')}, replay {n}")
        if name == "searchByDomains" and replay:
            doms = [d.lower() for d in call["domains"]]
            want = [r[0] for r in db.execute(f"""SELECT m.id FROM messages m
                WHERE m.deleted_from_source_at IS NULL AND m.id IN (
                  SELECT mr.message_id FROM message_recipients mr
                  JOIN participants p ON p.id = mr.participant_id
                  WHERE lower(p.domain) IN ({', '.join(f"'{d}'" for d in doms)}))
                ORDER BY m.sent_at DESC, m.id DESC LIMIT {limit}""").fetchall()]
            if [r[0] for r in rows] != want:
                probs.append("page differs from the DuckDB replay")
        if name == "searchDeep" and rows:
            term = call["query"].lower()
            ids = ", ".join(str(r[0]) for r in rows)
            bodies = dict(db.execute(
                f"SELECT message_id, body_text FROM bodies WHERE message_id IN ({ids})").fetchall())
            for r in rows:
                if not (any(t.startswith(term) for t in _tokens(bodies.get(r[0])))
                        or term in (r[4] or "").lower()):
                    probs.append(f"hit {r[0]} does not contain {term!r}")
                    break
        if name == "messageDetail":
            target = rec["target"]
            subj, sender = db.execute(f"""SELECT m.subject, f.email_address FROM messages m
                JOIN from_party f ON f.message_id = m.id WHERE m.id = {target}""").fetchone() \
                or (None, None)
            if len(rows) != 1 or rows[0][0] != target:
                probs.append(f"detail of {target} returned {[r[0] for r in rows]}")
            elif rows[0][1] != subj or rows[0][2] != [sender]:
                probs.append("detail subject or sender differs from the star")
        if name == "messageSummariesByIds":
            if [r[0] for r in rows] != [i for i in rec["ids"] if i in live]:
                probs.append("summaries are not the requested live ids in order")
        if name == "findSimilarMessages":
            seed = call["seed_id"]
            got = [r[0] for r in rows]
            if seed in got:
                probs.append("the seed is among its own neighbours")
            s_vec = vectors[np.searchsorted(vec_ids, seed)]
            mask = np.isin(vec_ids, list(live)) & (vec_ids != seed)
            cos = vectors[mask] @ s_vec / (np.linalg.norm(vectors[mask], axis=1)
                                           * np.linalg.norm(s_vec))
            order = np.argsort(-cos, kind="stable")[:limit]
            want_cos = cos[order]
            got_cos = [float(vectors[np.searchsorted(vec_ids, g)] @ s_vec /
                             (np.linalg.norm(vectors[np.searchsorted(vec_ids, g)])
                              * np.linalg.norm(s_vec))) for g in got]
            if any(b > a + 1e-6 for a, b in zip(got_cos, got_cos[1:])):
                probs.append("scores are not non-increasing")
            if replay and (len(got) != len(want_cos) or any(
                    abs(a - b) > 1e-6 for a, b in zip(got_cos, want_cos))):
                probs.append("neighbours differ from the numpy brute force")
        if name == "listMessagesAfter":
            previous["listMessagesAfter"] = rows
        problems[o["id"]] = probs
    db.close()
    return problems


# ------------------------------------------------------- refresh and export

def check_writes(work, result, outputs):
    """Refreshes and exports against the generator's closed-form counts."""
    problems = {}
    meta = json.load(open(os.path.join(work, "inputs", "inputs.json")))
    star = result["star"]
    db = connect()

    def count(path):
        return db.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]

    # the star now holds the base plus every batch landed (each batch is a
    # batch=w<watermark> partition and batch_w<watermark> junction shard)
    refreshes = [o for o in result["ops"] if o["name"] == "refresh"]
    want = gen.expected_star_counts(
        1, gen.STAR_MESSAGES + len(refreshes) * gen.REFRESH_BATCH_SIZE)
    star_probs = []
    for t in ("message_recipients", "message_labels", "attachments"):
        got = count(f"{star}/{t}/*/*.parquet")
        if got != want[t]:
            star_probs.append(f"{t}: {got} rows, expected {want[t]}")
    n, uniq = db.execute(f"""SELECT count(*), count(DISTINCT id)
        FROM read_parquet('{star}/messages/*/*/*.parquet')""").fetchone()
    if n != want["messages"] or uniq != n:
        star_probs.append(f"messages: {n} rows ({uniq} distinct), expected {want['messages']}")
    total = gen.expected_star_counts(1, gen.STAR_MESSAGES)["messages"]
    for i, o in enumerate(refreshes):
        rec = outputs.get(o["id"])
        if rec is None:
            continue
        p = list(star_probs) if i == len(refreshes) - 1 else []
        lo = gen.STAR_MESSAGES + (rec["round"] - 1) * gen.REFRESH_BATCH_SIZE + 1
        added = gen.expected_star_counts(lo, lo + gen.REFRESH_BATCH_SIZE - 1)["messages"]
        total += added
        if not rec["before"]["needs_build"] or rec["before"]["full"]:
            p.append(f"staleness before the refresh: {rec['before']}")
        if rec["exported"] != added:
            p.append(f"build exported {rec['exported']}, batch holds {added}")
        if rec["message_count"] != total:
            p.append(f"totalStats says {rec['message_count']}, expected {total}")
        if rec["after"]["needs_build"]:
            p.append(f"staleness after the refresh: {rec['after']}")
        problems[o["id"]] = p
    for o in result["ops"]:
        if o["name"] == "export" and o["id"] in outputs:
            problems[o["id"]] = check_export(outputs[o["id"]], meta["export_id_bound"])
    db.close()
    return problems


def check_export(rec, id_bound, rows=gen.EXPORT_ROWS):
    """An mbox export of `rows` messages: one separator per row and
    ceil(rows / 50,000) shards (the default sizing)."""
    p = []
    d = rec["dir"]
    shards = sorted(f for f in os.listdir(d) if f.endswith(".mbox"))
    seps = 0
    for f in shards:
        with open(os.path.join(d, f), "rb") as fh:
            seps += sum(1 for ln in fh if ln.startswith(b"From "))
    if seps != rows:
        p.append(f"{seps} mbox separators for {rows} exported rows")
    want_shards = math.ceil(rows / 50_000)
    if len(shards) != want_shards:
        p.append(f"{SHARD_FAULT} {len(shards)} for {rows} rows, "
                 f"expected ceil(rows / 50,000) = {want_shards}")
    if rec["id_bound"] != id_bound:
        p.append("export id bound differs from the generator's")
    return p


# ------------------------------------------------------------------ curate

def _shingles(text, n=3):
    toks = _tokens(text)
    if len(toks) < n:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _assign(vec_ids, vectors):
    """Similarity.semanticAssign replayed: md5-stride centroids, argmax
    cosine, ties to the higher centroid index."""
    cents = gen.stride_centroid_ids(vec_ids, gen.CURATE_NLIST)
    c = vectors[np.searchsorted(vec_ids, cents)]
    cn = c / np.linalg.norm(c, axis=1, keepdims=True)
    vn = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
    s = vn @ cn.T
    return len(cents) - 1 - np.argmax(s[:, ::-1], axis=1)


def _curate_reference(work):
    corpus = os.path.join(work, "inputs", "corpus")
    vec_ids, vectors = _vectors(os.path.join(corpus, "embeddings.parquet"), "vec_id")
    cluster = _assign(vec_ids, vectors)
    norms = np.linalg.norm(vectors, axis=1)
    dedup, knn = {}, {}
    for c in np.unique(cluster):
        idx = np.where(cluster == c)[0]
        ids = vec_ids[idx]
        v = vectors[idx] / norms[idx, None]
        for lo in range(0, idx.size, 1024):
            block = v[lo:lo + 1024] @ v.T          # sources lo.. x members
            me = ids[lo:lo + 1024]
            # ε-dedup: a dup is the larger id of a pair over eps
            over = (ids[None, :] < me[:, None]) & (block > 0.33)
            kept = np.where(over, ids[None, :], np.iinfo(np.int64).max).min(axis=1)
            best = np.where(over, block, -np.inf).max(axis=1)
            for j in np.where(over.any(axis=1))[0]:
                dedup[int(me[j])] = (int(c), int(kept[j]), float(best[j]))
            # top-5 by cosine desc, neighbour id asc; self excluded
            block[np.arange(me.size), lo + np.arange(me.size)] = -np.inf
            k = min(7, ids.size)
            cand = np.argpartition(-block, k - 1, axis=1)[:, :k]
            cos = np.take_along_axis(block, cand, axis=1)
            order = np.lexsort((ids[cand], -cos), axis=1)
            cand = np.take_along_axis(cand, order, axis=1)[:, :5]
            cos = np.take_along_axis(cos, order, axis=1)[:, :5]
            for j, (cj, sj) in enumerate(zip(ids[cand].tolist(), cos.tolist())):
                knn[int(me[j])] = [(n, x) for n, x in zip(cj, sj) if x > -np.inf]
    docs = pq.read_table(os.path.join(corpus, "documents.parquet")).to_pydict()
    texts = dict(zip(docs["doc_id"], docs["text"]))
    planted = json.load(open(os.path.join(corpus, "planted.json")))["planted_pairs"]
    return {"dedup": dedup, "knn": knn, "texts": texts, "planted": planted,
            "corpus": corpus}


def check_curate(work, result, outputs):
    ref = _curate_reference(work)
    texts = ref["texts"]
    sql = json.load(open(os.path.join(work, "oracle_sql.json")))
    db = connect()
    db.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{ref['corpus']}/documents.parquet')")
    oracle = {}
    for name in ("pack_summary", "pack_write_roundtrip"):
        oracle[name] = sorted(tuple(r) for r in db.execute(sql[name]).fetchall())
    db.close()
    shingle_cache = {}

    def sh(d):
        if d not in shingle_cache:
            shingle_cache[d] = _shingles(texts[d])
        return shingle_cache[d]

    def jac(a, b):
        A, B = sh(a), sh(b)
        return len(A & B) / len(A | B) if A | B else 0.0

    problems = {}
    for o in result["ops"]:
        rec = outputs.get(o["id"])
        if rec is None:
            continue
        rows, p = rec.get("rows", []), []
        name = o["name"]
        if name == "minhash_dedup":
            pairs = {(a, b): j for a, b, j in rows}
            for (a, b), j in pairs.items():
                if a >= b or abs(jac(a, b) - j) > TOL or j < 0.5:
                    p.append(f"pair ({a}, {b}) jaccard {j} vs {jac(a, b)}")
                    break
            for a, b in ref["planted"]:
                key = (min(a, b), max(a, b))
                if jac(*key) >= 0.5 and key not in pairs:
                    p.append(f"planted near-duplicate {key} not found")
                    break
        elif name == "semantic_assign":
            if rec["rows"] != len(ref["knn"]):
                p.append(f"assignment has {rec['rows']} rows for {len(ref['knn'])} vectors")
        elif name == "semantic_dedup":
            got = {r[0]: (r[1], r[2], r[3]) for r in rows}
            want = ref["dedup"]
            if len(got) != len(rows) or set(got) != set(want):
                p.append(f"{len(got)} dups, numpy brute force finds {len(want)}")
            else:
                for d, (c, k, cos) in got.items():
                    wc, wk, wcos = want[d]
                    if c != wc or k != wk or abs(cos - wcos) > TOL:
                        p.append(f"dup {d}: {(c, k, cos)} vs {(wc, wk, wcos)}")
                        break
        elif name == "knn_graph":
            got = {}
            for v, rnk, nb, cos in rows:
                got.setdefault(v, []).append((rnk, nb, cos))
            if set(got) != set(ref["knn"]):
                p.append(f"graph covers {len(got)} vectors, expected {len(ref['knn'])}")
            else:
                for v, lst in got.items():
                    lst.sort()
                    want = ref["knn"][v]
                    # ids may differ only where two cosines tie within TOL
                    if [r for r, _, _ in lst] != list(range(1, len(want) + 1)) or any(
                            abs(c - wc) > TOL for (_, _, c), (_, wc) in zip(lst, want)):
                        p.append(f"neighbours of {v} differ from the numpy brute force")
                        break
        elif name in ("tokenize_pack", "pack_write"):
            key = "pack_summary" if name == "tokenize_pack" else "pack_write_roundtrip"
            if sorted(tuple(r) for r in rows) != oracle[key]:
                p.append(f"differs from the registry's {key} DuckDB oracle")
        problems[o["id"]] = p
    return problems
