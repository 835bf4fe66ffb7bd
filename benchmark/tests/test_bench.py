"""Tests of the benchmark's own code: the generators and the expected
outputs. Run with ``python3 -m unittest discover -s benchmark/tests``."""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import expect  # noqa: E402
import gen  # noqa: E402

S = 1_000_000  # one second in microseconds


def ev(t, title, kind="edit", user="Alice", delta=0, **kw):
    """One labelled fixture event at second ``t`` on enwiki."""
    e = {"seq": t, "ts": t * S, "server": "en.wikipedia.org", "wiki": "enwiki",
         "ns": 0, "title": title, "gated": False, "kind": kind, "user": user,
         "bot": False, "is_bot": False, "is_anon": False, "is_revert": False,
         "notab": 0, "volat": 0, "is_new": False, "fixup": False, "old": 0,
         "new": delta, "comment": "", "log_params": gen.MISSING,
         "target": None, "gate_open": True}
    e.update(kw)
    return e


# A hand-worked fixture: bot, anonymous, revert, keyword, move, delete
# (gate open and closed), protect (existing and absent page), a gated
# namespace and a gated fixup comment.
FIXTURE = [
    ev(1, "A", user="Alice", delta=100),
    ev(2, "A", user="10.0.0.1", delta=50, is_anon=True),
    ev(3, "A", user="Bot1", delta=1000, bot=True, is_bot=True),
    ev(4, "A", user="Bob", delta=-150, is_revert=True, comment="Undid revision 1"),
    ev(5, "A", user="Alice", delta=10, notab=1, comment="current event"),
    ev(6, "B", user="Carol", delta=20, volat=1, is_new=True,
       comment="nominated for deletion"),
    ev(7, "B", kind="protect", user="Admin"),
    ev(8, "C", kind="protect", user="Admin"),
    ev(9, "B", kind="move", user="Mover", target="B2",
       log_params={"target": "B2"}),
    ev(10, "B2", user="Dave", delta=5),
    ev(11, "D", user="Erin", delta=7),
    ev(12, "D", kind="delete", user="Admin", target="D",
       log_action_comment="deleted &quot;[[D]]&quot;"),
    ev(13, "A", kind="delete", user="Admin", target="A", gate_open=False,
       log_params=["1"], log_action_comment="deleted &quot;[[A]]&quot;"),
    ev(14, "A", user="Frank", delta=3, ns=1, gated=True),
    ev(15, "A", user="Gina", delta=4, fixup=True, gated=True,
       comment="Fixed error in template"),
]


class StreamFoldTest(unittest.TestCase):
    def test_fixture(self):
        st = expect.stream_fold(FIXTURE)
        self.assertEqual(sorted(st), ["A", "B", "B2"])  # D deleted
        a = st["A"]
        self.assertEqual((a["edits"], a["anonEdits"], a["reverts"]), (3, 1, 1))
        self.assertEqual(a["bytesChanged"], 100 + 50 - 150 + 10)
        self.assertEqual((a["notabilityFlags"], a["volatileFlags"]), (1, 0))
        self.assertEqual(a["contributors"], ["Alice"])
        self.assertEqual(a["anons"], ["10.0.0.1"])
        self.assertEqual(a["distribution"], {"Alice": 2, "10.0.0.1": 1})
        self.assertEqual((a["start"], a["updated"]), (1 * S, 5 * S))
        self.assertFalse(a["isProtected"])  # the closed-gate delete left it
        b = st["B"]
        self.assertTrue(b["isProtected"] and b["isNew"])
        self.assertEqual((b["edits"], b["volatileFlags"], b["bytesChanged"]), (1, 1, 20))
        # the move is ignored: edits after it open a fresh page
        self.assertEqual((st["B2"]["edits"], st["B2"]["start"]), (1, 10 * S))
        self.assertEqual(st["B2"]["contributors"], ["Dave"])

    def test_delete_then_recreate(self):
        st = expect.stream_fold(FIXTURE + [ev(16, "D", user="Hal", delta=1)])
        self.assertEqual((st["D"]["edits"], st["D"]["start"]), (1, 16 * S))


class BatchViewTest(unittest.TestCase):
    def test_fixture(self):
        pages = expect.batch_pages(FIXTURE)
        self.assertEqual(sorted(pages), ["A", "B2", "D"])  # B renamed into B2
        self.assertEqual(pages["B2"]["edits"], 2)
        self.assertEqual(pages["B2"]["bytesChanged"], 25)
        self.assertEqual(pages["B2"]["start"], 6 * S)
        self.assertEqual(pages["B2"]["bias"], 0.5)
        self.assertEqual(pages["A"]["bias"], 0.666666)
        self.assertEqual(pages["A"]["editsPerMinute"], 3.0)  # age < 1 min
        board = expect.top_k(pages.values(), "editsPerMinute", 2)
        self.assertEqual([p["id"] for p in board], ["A", "B2"])

    def test_survivors_as_of_newest_event(self):
        # An hour later, only pages fast enough (>= 3 edits/min) and seen
        # within the hour survive; the newest event sets the as-of.
        evs = [ev(i, "Hot", user="U%d" % i, delta=1) for i in range(1, 40)]
        evs += [ev(2, "Cold", user="V", delta=1), ev(3700, "New", user="W")]
        pages = expect.batch_pages(evs)
        self.assertEqual(sorted(pages), ["New"])
        evs[-1]["ts"] = 300 * S  # as-of at 5 min: everything within grace
        self.assertEqual(sorted(expect.batch_pages(evs)), ["Cold", "Hot", "New"])

    def test_rename_chain_sequential(self):
        evs = [ev(1, "A", kind="move", target="B"),
               ev(2, "B", kind="move", target="C"),
               ev(3, "X", kind="move", target="A")]
        ren = expect.rename_map(evs)
        self.assertEqual(ren[("", "A")], "C")
        self.assertEqual(ren[("", "B")], "C")
        self.assertEqual(ren[("", "X")], "A")  # A is vacant when X moves


class GeneratorTest(unittest.TestCase):
    def test_events_deterministic_per_seed(self):
        a = [gen.wire(e) for e in gen.backlog_events(5, 3000, 2)]
        b = [gen.wire(e) for e in gen.backlog_events(5, 3000, 2)]
        c = [gen.wire(e) for e in gen.backlog_events(6, 3000, 2)]
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        live1 = gen.live_events(5, 500, 10 ** 15, 400)
        self.assertEqual(live1, gen.live_events(5, 500, 10 ** 15, 400))
        self.assertNotEqual(live1, gen.live_events(6, 500, 10 ** 15, 400))

    def test_timestamps_increase_by_at_least_the_gap(self):
        for evs in (gen.backlog_events(1, 5000, 3),
                    gen.live_events(1, 5000, 10 ** 15, 1000)):
            ts = [e["ts"] for e in evs]
            self.assertTrue(all(y - x >= gen.MIN_GAP_US for x, y in zip(ts, ts[1:])))

    def test_labels_match_documented_classifiers(self):
        revert = ["tag:", "undid", "revert", "wp:"]
        notable = ["eventtag", "current event", "ongoing event"]
        volatile = ["speedy deletion", "nominated for deletion",
                    "nominated page for deletion", "restore afd template",
                    "{{pp-vandalism", "proposing article for deletion"]
        kinds = set()
        for e in gen.backlog_events(3, 20000, 3):
            kinds.add(e["kind"])
            w = json.loads(gen.wire(e))
            c = w["comment"].lower()
            gate = (w["server_name"] == "en.wikipedia.org" and w["namespace"] == 0
                    and "Fixed error" not in w["comment"])
            self.assertEqual(e["gated"], not gate)
            if e["kind"] != "edit":
                self.assertEqual(w["log_type"], e["kind"])
                continue
            self.assertEqual(e["is_revert"], any(k in c for k in revert))
            self.assertEqual(e["notab"], int(any(k in c for k in notable)))
            self.assertEqual(e["volat"], int(any(k in c for k in volatile)))
            self.assertEqual(e["is_bot"], w["bot"] or w["user"] == "ClueBot NG")
            self.assertEqual(e["is_anon"], w["user"].count(".") == 3)
        self.assertEqual(kinds, {"edit", "move", "delete", "protect"})

    def test_corpus_planted_labels(self):
        c = gen.Corpus(4, base_docs=200, batch_docs=50, batches=4)
        self.assertEqual([d["text"] for d in c.all_docs],
                         [d["text"] for d in gen.Corpus(4, base_docs=200,
                          batch_docs=50, batches=4).all_docs])
        self.assertNotEqual(c.base[0]["text"], gen.Corpus(5, base_docs=200,
                            batch_docs=50, batches=4).base[0]["text"])
        by_id = {d["doc_id"]: d for d in c.all_docs}
        ids = [d["doc_id"] for d in c.all_docs]
        self.assertEqual(len(ids), len(set(ids)))
        for b in c.batches:
            for d in b:
                if d["kind"] == "exact":
                    self.assertEqual(d["text"], by_id[d["source"]]["text"])
                elif d["kind"] == "near":
                    self.assertNotEqual(d["text"], by_id[d["source"]]["text"])


class DedupExpectTest(unittest.TestCase):
    def test_shingles_and_jaccard(self):
        self.assertEqual(expect.shingles("a b c d"), {"a b c", "b c d"})
        self.assertEqual(expect.shingles("a  b"), {"a b"})
        self.assertEqual(expect.shingles(""), set())
        a, b = expect.shingles("a b c d e"), expect.shingles("a b c d f")
        self.assertEqual(expect.jaccard(a, b), 0.5)  # 2 shared of 4
        self.assertEqual(expect.jaccard({"x"}, {"x", "y", "z"}), 0.333333)

    def test_exact_verdicts(self):
        batch = [{"doc_id": 3, "text": "t"}, {"doc_id": 1, "text": "t"},
                 {"doc_id": 2, "text": "old"}]
        v = expect.exact_verdicts(batch, {"old"})
        self.assertEqual(v, {3: (False, False), 1: (False, True), 2: (True, False)})

    def test_lsh_probability(self):
        self.assertAlmostEqual(expect.lsh_hit_probability(0.7), 1 - 0.51 ** 4)
        self.assertGreater(expect.lsh_hit_probability(0.7), 0.93)


if __name__ == "__main__":
    unittest.main()
