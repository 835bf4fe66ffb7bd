"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and parameters: the same
seed gives byte-identical inputs. Each generated record carries the labels
the expected-output computations in ``expect.py`` use (bot, anonymous,
revert, keyword hits, gate, log kind, planted copies and edit rates), so
no expected output is ever derived by calling the program.
"""

import bisect
import datetime
import itertools
import json
import random

# ---------------------------------------------------------------- events

# (server_name, wiki, share). Only en.wikipedia.org passes the default
# project gate; the other two are gated out before any dispatch.
PROJECTS = [("en.wikipedia.org", "enwiki", 0.70),
            ("de.wikipedia.org", "dewiki", 0.18),
            ("commons.wikimedia.org", "commonswiki", 0.12)]
# Namespace mix of every project: only 0 (articles) passes the gate.
NAMESPACES = [(0, 0.85), (1, 0.10), (2, 0.05)]

EVENT_SHARES = {          # share of all events, by kind
    "move": 0.010,
    "delete": 0.006,
    "protect": 0.006,
}                         # the rest are edits
EDIT_SHARES = {           # share of edits, by label (drawn independently)
    "bot": 0.06,          # bot flag set
    "cluebot": 0.01,      # 'ClueBot NG' without the bot flag
    "revert": 0.06,
    "notable": 0.04,
    "volatile": 0.03,
    "fixup": 0.01,        # 'Fixed error' comment: gated out
    "new": 0.03,          # type 'new'
}
ANON_EVERY = 7            # editor ids divisible by 7 edit from an IPv4 address

# Comment pools per label. Plain comments contain no keyword of any
# classifier; each labelled pool hits exactly its own classifier.
PLAIN_COMMENTS = ["copyedit", "expanded section", "added citation",
                  "fix typo", "update infobox", "rewrite lead",
                  "added image", "style", ""]
REVERT_COMMENTS = ["Reverted edits by Vandal", "Undid revision 1234",
                   "revert unsourced claim", "Tag: rollback"]
NOTABLE_COMMENTS = ["update for current event", "ongoing event coverage"]
VOLATILE_COMMENTS = ["nominated for deletion", "tagged for speedy deletion"]
FIXUP_COMMENTS = ["Fixed error in template"]

MISSING = "MISSING"  # a log_params value that is left out of the message
DELETE_PARAMS = [  # (log_params wire value, gate open?)
    (MISSING, True), ({}, True), ([], True), ("", True),
    (["1"], False), ("x", False)]
MOVE_FORMS = ["map", "map", "map", "map", "array", "string"]


def _pick(rng, weighted):
    r = rng.random()
    acc = 0.0
    for value, w in weighted:
        acc += w
        if r < acc:
            return value
    return weighted[-1][0]


def zipf_cum(n, s):
    """Cumulative Zipf(s) weights over ranks 1..n."""
    return list(itertools.accumulate(1.0 / (k ** s) for k in range(1, n + 1)))


def zipf_draw(rng, cum):
    return bisect.bisect_left(cum, rng.random() * cum[-1])


def iso_us(ts_us):
    """ISO-8601 UTC with six fractional digits, as Wikimedia's meta.dt."""
    d = datetime.datetime.fromtimestamp(ts_us // 1_000_000, datetime.timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%S") + ".%06dZ" % (ts_us % 1_000_000)


class EventGen:
    """Wikimedia recentchange events with Zipf page popularity.

    ``pages`` pages per project, popularity Zipf(``skew``); page k draws
    its editors from a pool of ``3 + 40 // (1 + k // 16)`` editors, so the
    hot pages gather many distinct editors. Timestamps come from the
    caller (``next_event(ts_us)``); each must be strictly larger than the
    last.
    """

    def __init__(self, seed, pages=1500, skew=1.1, editors=4000):
        self.rng = random.Random(seed)
        self.pages = pages
        self.cum = zipf_cum(pages, skew)
        self.editors = editors
        # current title per (wiki, page rank); moves rename it
        self.titles = {}
        self.moves = 0
        self.count = 0

    def _title(self, wiki, k):
        return self.titles.get((wiki, k), "Page %d" % k if wiki == "enwiki"
                               else "%s %d" % (wiki[:2].upper(), k))

    def _editor(self, k):
        rng = self.rng
        pool = 3 + 40 // (1 + k // 16)
        e = (k * 7919 + rng.randrange(pool) * 104729) % self.editors + 1
        if e % ANON_EVERY == 0:
            return "10.%d.%d.%d" % (e // 65536 % 256, e // 256 % 256, e % 256)
        return "Editor%d" % e

    def next_event(self, ts_us):
        rng = self.rng
        server, wiki = _pick(rng, [((s, w), p) for s, w, p in PROJECTS])
        ns = _pick(rng, NAMESPACES)
        k = zipf_draw(rng, self.cum)
        title = self._title(wiki, k)
        gated = not (server == "en.wikipedia.org" and ns == 0)
        ev = {"seq": self.count, "ts": ts_us, "server": server, "wiki": wiki,
              "ns": ns, "title": title, "gated": gated, "kind": "edit",
              "bot": False, "is_bot": False, "is_anon": False,
              "is_revert": False, "notab": 0, "volat": 0, "is_new": False,
              "fixup": False, "old": 0, "new": 0, "comment": "",
              "log_params": MISSING, "target": None, "gate_open": True}
        self.count += 1
        r = rng.random()
        if r < EVENT_SHARES["move"]:
            self.moves += 1
            form = MOVE_FORMS[rng.randrange(len(MOVE_FORMS))]
            to = "%s (m%d)" % (title, self.moves)
            ev.update(kind="move", user="Mover", comment="moved page",
                      log_params={"target": to} if form == "map"
                      else [to] if form == "array" else to)
            if form == "map":
                ev["target"] = to
                if not gated:
                    self.titles[(wiki, k)] = to
            return ev
        r -= EVENT_SHARES["move"]
        if r < EVENT_SHARES["delete"]:
            lp, open_ = DELETE_PARAMS[rng.randrange(len(DELETE_PARAMS))]
            form = rng.randrange(2)
            quoted = ("&quot;[[%s]]&quot;" if form == 0 else "&quot;%s&quot;") % title
            ev.update(kind="delete", user="Admin", comment="deleted page",
                      log_params=lp, gate_open=open_, target=title,
                      log_action_comment="deleted " + quoted)
            return ev
        r -= EVENT_SHARES["delete"]
        if r < EVENT_SHARES["protect"]:
            ev.update(kind="protect", user="Admin", comment="protected page",
                      log_params={"details": "edit=sysop"})
            return ev
        # An edit: labels drawn independently, comment from the label's pool.
        lab = {name: rng.random() < p for name, p in EDIT_SHARES.items()}
        if lab["bot"]:
            user = "Bot%d" % rng.randrange(20)
        elif lab["cluebot"]:
            user = "ClueBot NG"
        else:
            user = self._editor(k)
        if lab["fixup"]:
            comment = FIXUP_COMMENTS[0]
        elif lab["revert"]:
            comment = rng.choice(REVERT_COMMENTS)
        elif lab["notable"]:
            comment = rng.choice(NOTABLE_COMMENTS)
        elif lab["volatile"]:
            comment = rng.choice(VOLATILE_COMMENTS)
        else:
            comment = rng.choice(PLAIN_COMMENTS)
        old = rng.randrange(0, 50000)
        new = max(0, old + int(rng.gauss(40, 400)))
        ev.update(user=user, bot=lab["bot"],
                  is_bot=lab["bot"] or lab["cluebot"],
                  is_anon=user.startswith("10."),
                  is_revert=comment in REVERT_COMMENTS,
                  notab=int(comment in NOTABLE_COMMENTS),
                  volat=int(comment in VOLATILE_COMMENTS),
                  is_new=lab["new"], fixup=lab["fixup"],
                  old=old, new=new, comment=comment)
        ev["gated"] = gated or lab["fixup"]
        return ev


def wire(ev):
    """One recentchange message in the Wikimedia wire shape, as one line."""
    log = ev["kind"] != "edit"
    m = {"title": ev["title"], "comment": ev["comment"],
         "namespace": ev["ns"], "user": ev["user"], "bot": ev["bot"],
         "type": "log" if log else ("new" if ev["is_new"] else "edit"),
         "length": {"old": ev["old"], "new": ev["new"]},
         "wiki": ev["wiki"], "server_name": ev["server"]}
    if log:
        m["log_type"] = ev["kind"]
        m["log_action"] = ev["kind"]
        if ev["log_params"] != MISSING:
            m["log_params"] = ev["log_params"]
        if "log_action_comment" in ev:
            m["log_action_comment"] = ev["log_action_comment"]
    m["meta"] = {"dt": iso_us(ev["ts"])}
    return json.dumps(m, separators=(",", ":"))


BACKLOG_START_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z


# Events are at least this far apart: the stream orders a page's events by
# the millisecond of their timestamp, so two closer than 1 ms would be
# applied in an order other than their times.
MIN_GAP_US = 1000


def backlog_events(seed, n, span_hours):
    """``n`` events whose times span about ``span_hours`` hours, with
    exponential gaps of at least ``MIN_GAP_US``."""
    g = EventGen(seed)
    rng = random.Random(seed * 7 + 1)
    mean_gap = span_hours * 3600e6 / n
    ts = BACKLOG_START_US + rng.randrange(3600) * 1_000_000
    out = []
    for _ in range(n):
        ts += MIN_GAP_US + int(rng.expovariate(1.0 / mean_gap))
        out.append(g.next_event(ts))
    return out


def live_due_us(t0_us, i, rate):
    """Due (creation) time of the i-th event of a fixed-rate feed (at most
    1,000 events/s, so that events are ``MIN_GAP_US`` apart)."""
    return t0_us + (i * 1_000_000) // rate


def live_events(seed, n, t0_us, rate):
    g = EventGen(seed)
    return [g.next_event(live_due_us(t0_us, i, rate)) for i in range(n)]


# ---------------------------------------------------------------- documents

def vocabulary(rng, size):
    syl = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "sa",
           "do", "fu", "gi", "ha", "ju", "be"]
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(syl) for _ in range(rng.randrange(2, 5))))
    return sorted(words)


NEAR_RATES = [(0.03, 0.40), (0.06, 0.35), (0.25, 0.25)]  # (word-edit rate, share)
BATCH_MIX = {"fresh": 0.55, "exact": 0.15, "near": 0.30}


class Corpus:
    """A base set plus ingest batches.

    Batch documents are fresh texts, exact copies of an already-ingested
    document (base, or a fresh document of an earlier batch) under a new
    id, or near-duplicates of a base document with each word replaced at
    a known rate (at least one word always changes). Ids are disjoint
    across the base and every batch.
    """

    def __init__(self, seed, base_docs=1500, batch_docs=150, batches=36,
                 vocab=6000, min_words=60, max_words=140):
        rng = random.Random(seed * 31 + 7)
        self.vocab = vocabulary(rng, vocab)
        self.wcum = zipf_cum(len(self.vocab), 0.9)
        self.rng = rng
        self.min_words, self.max_words = min_words, max_words
        self.base = [{"doc_id": i + 1, "text": self._fresh(), "kind": "fresh"}
                     for i in range(base_docs)]
        self.batches = []
        next_id = 1_000_000
        ingested = list(range(len(self.base)))  # indexes into all_docs
        self.all_docs = list(self.base)
        for _ in range(batches):
            batch = []
            for _ in range(batch_docs):
                kind = _pick(rng, list(BATCH_MIX.items()))
                d = {"doc_id": next_id, "kind": kind}
                next_id += 1
                if kind == "fresh":
                    d["text"] = self._fresh()
                elif kind == "exact":
                    src = self.all_docs[rng.choice(ingested)]
                    d.update(text=src["text"], source=src["doc_id"])
                else:
                    src = self.base[rng.randrange(len(self.base))]
                    rate = _pick(rng, NEAR_RATES)
                    d.update(text=self._edit(src["text"], rate),
                             source=src["doc_id"], rate=rate)
                batch.append(d)
            for d in batch:
                self.all_docs.append(d)
                if d["kind"] == "fresh":
                    ingested.append(len(self.all_docs) - 1)
            self.batches.append(batch)

    def _word(self):
        return self.vocab[zipf_draw(self.rng, self.wcum)]

    def _fresh(self):
        n = self.rng.randrange(self.min_words, self.max_words + 1)
        return " ".join(self._word() for _ in range(n))

    def _edit(self, text, rate):
        words = text.split(" ")
        forced = self.rng.randrange(len(words))
        for i, w in enumerate(words):
            if i == forced or self.rng.random() < rate:
                nw = self._word()
                while nw == w:
                    nw = self._word()
                words[i] = nw
        return " ".join(words)


def write_jsonl(path, rows, keys):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps({k: r[k] for k in keys}, separators=(",", ":")))
            f.write("\n")
