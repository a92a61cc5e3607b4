"""Tests of the benchmark's own code: python3 -m unittest discover perfbench"""

import hashlib
import json
import os
import re
import tempfile
import unicodedata
import unittest

import gen_tweets
import layers

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def digest(directory):
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        h.update(name.encode())
        with open(os.path.join(directory, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class TweetGeneratorTest(unittest.TestCase):

    def corpus(self, seed, tweets=3000):
        d = tempfile.mkdtemp()
        self.addCleanup(lambda: [os.remove(os.path.join(d, f)) for f in os.listdir(d)])
        return gen_tweets.generate(seed, tweets, d), d

    def test_same_seed_same_bytes(self):
        (n1, b1), d1 = self.corpus(5)
        (n2, b2), d2 = self.corpus(5)
        self.assertEqual((n1, b1), (n2, b2))
        self.assertEqual(digest(d1), digest(d2))

    def test_other_seed_other_bytes(self):
        _, d1 = self.corpus(5)
        _, d2 = self.corpus(6)
        self.assertNotEqual(digest(d1), digest(d2))

    def test_shape_and_hard_cases(self):
        (n, size), d = self.corpus(7)
        tweets = []
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), encoding="utf-8") as fh:
                tweets += [json.loads(line) for line in fh]
        self.assertEqual(len(tweets), n)
        self.assertEqual(size, sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)))
        texts = [t["data"]["text"] for t in tweets if "text" in t["data"]]
        joined = "\n".join(texts)
        for case in gen_tweets.HARD_CASES:
            self.assertIn(case, joined)
        self.assertTrue(any("text" not in t["data"] for t in tweets))
        self.assertTrue(any("includes" not in t for t in tweets))
        self.assertTrue(any("entities" in t["data"] for t in tweets))
        self.assertTrue(any("context_annotations" in t["data"] for t in tweets))
        # a glued run: two counted emoji with nothing between them
        self.assertRegex(joined, "[\U0001F300-\U0001F64F\U0001F900-\U0001F9FF]{2}")


    def test_rates_match_the_published_corpus(self):
        # the reference's corpus: 367,157 emoji and 5,333,870 words over
        # about 760,000 tweets; places on under 1 % of tweets
        (n, _), d = self.corpus(8, tweets=20000)
        emoji = words = places = 0
        for name in os.listdir(d):
            with open(os.path.join(d, name), encoding="utf-8") as fh:
                for line in fh:
                    t = json.loads(line)
                    places += "includes" in t
                    text = t["data"].get("text", "")
                    emoji += sum(0x1F300 <= ord(c) <= 0x1F64F or 0x1F900 <= ord(c) <= 0x1F9FF
                                 for c in text)
                    # the Q3 word: clean `[\s\p{C}()|]`, then only [A-Za-z0-9']
                    for token in text.split(" "):
                        clean = "".join(c for c in token if c not in "()|" and not c.isspace()
                                        and not unicodedata.category(c).startswith("C"))
                        words += bool(re.fullmatch(r"[A-Za-z0-9']+", clean))
        self.assertAlmostEqual(emoji / n, 367157 / 760000, delta=0.05)
        self.assertAlmostEqual(words / n, 5333870 / 760000, delta=0.5)
        self.assertAlmostEqual(emoji / words, 367157 / 5333870, delta=0.007)
        self.assertGreater(places, 0)
        self.assertLess(places / n, 0.01)


class IntervalTest(unittest.TestCase):

    def test_union_of_overlapping_jobs(self):
        jobs = [(0, 4), (2, 6), (5, 7), (10, 12)]
        self.assertEqual(layers.union_length(jobs), 9)

    def test_nested_and_touching(self):
        self.assertEqual(layers.union_length([(0, 10), (2, 3), (10, 11)]), 11)
        self.assertEqual(layers.union_length([]), 0)

    def test_clipped_to_span(self):
        self.assertEqual(layers.union_length([(-5, 2), (8, 20)], 0, 10), 4)

    def test_self_time(self):
        # query [0, 20]; jobs overlap each other and one runs past the end
        self.assertEqual(layers.self_time((0, 20), [(1, 5), (3, 8), (15, 25)]), 8)
        self.assertEqual(layers.self_time((0, 20), []), 20)
        self.assertEqual(layers.self_time((0, 20), [(0, 20), (5, 6)]), 0)


class PassLayersTest(unittest.TestCase):

    def test_one_pass(self):
        events = {
            "spans": [{"label": "1/q", "ms": [100, 110, 111, 130]}],
            "jobs": [
                {"label": "1/q/build", "start_ms": 102, "end_ms": 108},
                {"label": "1/q/execute", "start_ms": 112, "end_ms": 120},
                {"label": "1/q/execute", "start_ms": 118, "end_ms": 125},
                {"label": "2/q/execute", "start_ms": 140, "end_ms": 150},
            ],
            "triggers": [
                {"label": "1/q/build", "input_rows": 5, "state_rows": 3,
                 "duration_ms": {"triggerExecution": 4000, "addBatch": 3000}},
                {"label": "1/q/build", "input_rows": 0, "state_rows": 3,
                 "duration_ms": {"triggerExecution": 1000}},
            ],
            "counters": {
                "1/q/build": {"task_run_ms": 8000, "output_bytes": 64, "sql_actions": 2},
                "1/q/execute": {"task_run_ms": 4000, "output_bytes": 9, "sql_actions": 1},
            },
        }
        out, per_query = layers.pass_layers(1, [{"name": "q"}], events, cores=4)
        self.assertEqual(out["scheduler.jobs"], 3)
        # 30 ms of wall, jobs cover 6 + 13
        self.assertAlmostEqual(out["scheduler.outside_jobs_s"], 0.011)
        self.assertAlmostEqual(out["build_s"], 0.010)
        self.assertAlmostEqual(per_query["q"]["harness_self_s"], 0.001)
        self.assertEqual(out["sql.actions"], 3)
        self.assertEqual(out["stream.triggers"], 2)
        self.assertEqual(out["stream.empty_trigger_frac"], 0.5)
        self.assertAlmostEqual(out["stream.add_batch_s"], 3.0)
        self.assertEqual(out["stream.state_rows"], 3)
        self.assertEqual(out["write.output_bytes"], 64)
        self.assertAlmostEqual(out["task.busy_frac"], 12.0 / (0.030 * 4))


class WorkloadTimeTest(unittest.TestCase):

    def test_per_query_median_after_the_first_pass(self):
        def p(a, b):
            return {"queries": [{"name": "a", "wall_ms": a}, {"name": "b", "wall_ms": b}]}
        # the first pass is left out; a slow spell in one of three passes
        # (a in pass 2, b in pass 3) moves neither median
        passes = [p(9000, 9000), p(1000, 2000), p(5000, 2200), p(1100, 6000)]
        self.assertAlmostEqual(layers.workload_s(passes), 1.1 + 2.2)
        self.assertAlmostEqual(layers.workload_s(passes[:1]), 18.0)


class CatalogueTest(unittest.TestCase):

    def setUp(self):
        with open(BENCHMARK) as fh:
            self.bench = json.load(fh)

    def test_names_use_allowed_characters_once(self):
        names = ([m["name"] for m in self.bench["end_to_end"] + self.bench["per_layer"]]
                 + [w["name"] for w in self.bench["workloads"]])
        for name in names + list(layers.PER_LAYER) + list(layers.END_TO_END):
            self.assertRegex(name, layers.NAME_RE)
        self.assertEqual(len(names), len(set(names)))

    def test_every_layer_metric_names_what_it_should_move(self):
        e2e = {m["name"] for m in self.bench["end_to_end"]}
        workloads = {w["name"] for w in self.bench["workloads"]}
        self.assertEqual(set(layers.WORKLOADS), workloads)
        for name, (unit, layer, moves, on) in layers.PER_LAYER.items():
            self.assertTrue(layer, name)
            if layer != "tracing":
                self.assertIn(moves, e2e, name)
            self.assertTrue(on, name)
            self.assertLessEqual(set(on), workloads, name)

    def test_benchmark_json_matches_the_catalogue(self):
        listed = {m["name"]: m for m in self.bench["per_layer"]}
        self.assertEqual(set(listed), set(layers.PER_LAYER))
        for name, (unit, _, _, _) in layers.PER_LAYER.items():
            self.assertEqual(listed[name]["unit"], unit, name)
            want = "higher" if name in layers.HIGHER_IS_BETTER else "lower"
            self.assertEqual(listed[name]["better"], want, name)
        self.assertEqual({m["name"] for m in self.bench["end_to_end"]},
                         set(layers.END_TO_END))


if __name__ == "__main__":
    unittest.main()
