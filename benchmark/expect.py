"""Expected outputs, computed apart from the program.

Everything here works from the generators' labels (``gen.py``) and the
documented semantics of the path being checked; nothing calls the
program. The three paths:

* the stream's per-key fold (``TrendCollection.streaming``): events in
  time order per page id; moves are ignored, a delete whose log_params
  gate is open drops the state of the page named in its comment, a
  protect flags an existing page;
* the batch view (``TrendCollection`` boards): rename chains merged under
  the final title, per-page aggregates, the ``survivors`` policy applied
  as of the newest event, boards ordered by metric then id;
* the dedup tiers: the exact verdict table, word 3-gram shingles and
  Jaccard at threshold 0.5.
"""

import math

# TrendConfig defaults
MIN_PURGE_MINS = 5
MAX_LIFESPAN_MINS = 1440
MAX_INACTIVITY_MINS = 60
MIN_SPEED = 3.0


def page_id(wiki, title):
    return title if wiki in (None, "", "enwiki") else "%s/%s" % (wiki, title)


def wiki_norm(wiki):
    return "" if wiki in (None, "", "enwiki") else wiki


# ---------------------------------------------------------------- stream

def new_state(pid, title, wiki, ts):
    return {"id": pid, "title": title, "wiki": wiki_norm(wiki), "edits": 0,
            "anonEdits": 0, "isNew": False, "notabilityFlags": 0,
            "volatileFlags": 0, "reverts": 0, "start": ts, "updated": ts,
            "contributors": [], "anons": [], "distribution": {},
            "bytesChanged": 0, "safe": False, "isProtected": False}


def stream_fold(events):
    """Final per-page state of the keyed stream over ``events`` (in time
    order; every timestamp distinct)."""
    state = {}
    for e in sorted(events, key=lambda e: e["ts"]):
        if e["gated"]:
            continue
        kind = e["kind"]
        if kind == "move":
            continue
        if kind == "delete":
            if e["gate_open"] and e["target"]:
                state.pop(page_id(e["wiki"], e["target"]), None)
            continue
        pid = page_id(e["wiki"], e["title"])
        if kind == "protect":
            if pid in state:
                state[pid]["isProtected"] = True
            continue
        s = state.get(pid)
        if s is None:
            s = state[pid] = new_state(pid, e["title"], e["wiki"], e["ts"])
        delta = e["new"] - e["old"]
        if e["is_revert"]:
            s["reverts"] += 1
            s["bytesChanged"] += delta
        elif not e["is_bot"]:
            s["edits"] += 1
            s["bytesChanged"] += delta
        s["isNew"] = s["isNew"] or e["is_new"]
        s["notabilityFlags"] += e["notab"]
        s["volatileFlags"] += e["volat"]
        s["updated"] = max(s["updated"], e["ts"])
        s["start"] = min(s["start"], e["ts"])
        if not e["is_bot"] and not e["is_revert"]:
            u = e["user"]
            s["distribution"][u] = s["distribution"].get(u, 0) + 1
            if e["is_anon"]:
                s["anonEdits"] += 1
                if u not in s["anons"]:
                    s["anons"].append(u)
            elif u not in s["contributors"]:
                s["contributors"].append(u)
    return state


def top_k(rows, metric, k):
    """Boards: metric descending, id ascending."""
    return sorted(rows, key=lambda r: (-r[metric], r["id"]))[:k]


# ---------------------------------------------------------------- batch view

def rename_map(events):
    """(wiki, from) -> final title, by sequential replay of the effective
    moves: a title's last outgoing move wins, then each arrival follows
    the next move out of its destination."""
    edges = [(e["ts"], wiki_norm(e["wiki"]), e["title"], e["target"])
             for e in events
             if e["kind"] == "move" and not e["gated"] and e["target"]]
    edges.sort()
    arrive, final = {}, {}
    for _, wiki, src, dst in reversed(edges):
        dest = arrive.get((wiki, dst), dst)
        final.setdefault((wiki, src), dest)
        arrive[(wiki, src)] = dest
    return final


def edits_per_minute(edits, age_mins):
    return float(edits) if age_mins < 1.0 or edits == 0 else edits / age_mins


def batch_pages(events):
    """``getPages()``: the live pages of the batch view with metrics."""
    ren = rename_map(events)
    as_of = max(e["ts"] for e in events) / 1e6
    pages = {}
    for e in events:
        if e["gated"] or e["kind"] != "edit":
            continue
        title = ren.get((wiki_norm(e["wiki"]), e["title"]), e["title"])
        pid = page_id(e["wiki"], title)
        p = pages.get(pid)
        if p is None:
            p = pages[pid] = {"id": pid, "title": title, "edits": 0,
                              "anonEdits": 0, "reverts": 0, "bytesChanged": 0,
                              "start": e["ts"], "updated": e["ts"], "dist": {}}
        p["start"] = min(p["start"], e["ts"])
        p["updated"] = max(p["updated"], e["ts"])
        delta = e["new"] - e["old"]
        if e["is_revert"]:
            p["reverts"] += 1
            p["bytesChanged"] += delta
        elif not e["is_bot"]:
            p["edits"] += 1
            p["bytesChanged"] += delta
            if e["is_anon"]:
                p["anonEdits"] += 1
            p["dist"][e["user"]] = p["dist"].get(e["user"], 0) + 1
    out = {}
    for pid, p in pages.items():
        age = (as_of - p["start"] / 1e6) / 60.0
        idle = (as_of - p["updated"] / 1e6) / 60.0
        speed = edits_per_minute(p["edits"], age)
        if not (age <= MIN_PURGE_MINS or (age <= MAX_LIFESPAN_MINS and (
                speed >= MIN_SPEED and idle <= MAX_INACTIVITY_MINS))):
            continue
        p["editsPerMinute"] = speed
        d = p["dist"]
        p["bias"] = (math.floor(max(d.values()) / sum(d.values()) * 1e6) / 1e6
                     if d else 0.0)
        out[pid] = p
    return out


# ---------------------------------------------------------------- dedup

def shingles(text, n=3):
    toks = text.split()
    if not toks:
        return set()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    """Jaccard of two shingle sets, rounded to the 1e-6 grid as the
    program reports it."""
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return math.floor(inter / union * 1e6 + 0.5) / 1e6 if union else 0.0


def exact_verdicts(batch, ingested_texts):
    """doc_id -> (in_base, keep) for one batch against the texts already
    ingested: in_base when the text is ingested; keep when not in_base and
    the doc has the smallest id among the batch's docs with its text."""
    first = {}
    for d in batch:
        t = d["text"]
        if t not in first or d["doc_id"] < first[t]:
            first[t] = d["doc_id"]
    return {d["doc_id"]: (d["text"] in ingested_texts,
                          d["text"] not in ingested_texts
                          and first[d["text"]] == d["doc_id"])
            for d in batch}


# LSH geometry of the near-dup index: k = 8 MinHash rows in 4 bands of 2.
BANDS, ROWS = 4, 2


def lsh_hit_probability(j):
    """Chance that a pair with Jaccard ``j`` shares at least one band."""
    return 1.0 - (1.0 - j ** ROWS) ** BANDS
