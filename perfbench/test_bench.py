"""Tests for the benchmark's own arithmetic and output checker.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import statistics
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_disjoint_children(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        # [1, 5] and [4, 8] overlap on [4, 5]: together they cover 7
        self.assertEqual(stats.self_time((0, 10), [(1, 5), (4, 8)]), 3)

    def test_nested_and_out_of_span_children_are_clipped(self):
        # [2, 3] lies inside [1, 6]; [-5, 1] and [9, 20] stick out of the span
        self.assertEqual(stats.self_time((0, 10), [(1, 6), (2, 3), (-5, 1), (9, 20)]), 3)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (6, 7)]), 5)
        self.assertEqual(stats.union_length([]), 0)


class MedianQuartiles(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [10.0, 12.0, 11.0, 15.0, 9.0, 13.0, 14.0, 10.5, 11.5, 12.5]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertEqual(q2, statistics.median(xs))

    def test_spread(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)  # 1.5, 3, 4.5
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)
        self.assertAlmostEqual(stats.spread(xs), 1.0)


class Amplification(unittest.TestCase):
    def test_bytes_written_counts_each_file_once(self):
        walks = [{"a": 10, "b": 5}, {"a": 10, "b": 5, "c": 7}, {"c": 7}]
        self.assertEqual(stats.bytes_written(walks), 22)

    def test_vacuumed_files_still_count_as_written(self):
        # "a" was dropped by a vacuum between the listings
        self.assertEqual(stats.write_amp([{"a": 30}, {"b": 10}], 20), 2.0)

    def test_new_files(self):
        self.assertEqual(stats.new_files({"a": 1}, {"a": 1, "b": 4, "c": 5}), (2, 9))

    def test_space_amp(self):
        self.assertEqual(stats.space_amp({"x": 6, "y": 9}, 5), 3.0)


class Checker(unittest.TestCase):
    def test_reference_tokenizer(self):
        self.assertEqual(checks.reference_tokens("Don't  stop. END-x 42"),
                         ["dont", "stop", "endx"])

    def test_word_count_order(self):
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "a.txt")
            with open(p, "w") as fh:
                fh.write("b a\nA c b\nc\n")
            # counts tie at 2: word desc breaks the tie
            self.assertEqual(checks.word_count([p]), [("c", 2), ("b", 2), ("a", 2)])

    def test_word_count_tie_puts_a_word_after_its_extensions(self):
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "a.txt")
            with open(p, "w") as fh:
                fh.write("a ab abc. B a\n")
            # word desc, as Spark orders strings: "abc" > "ab" > "a"
            self.assertEqual(checks.word_count([p]),
                             [("a", 2), ("b", 1), ("abc", 1), ("ab", 1)])

    def test_letter_vocabulary_survives_the_tokenizer(self):
        words = gen.letter_words(2000)
        self.assertEqual(len(set(words)), 2000)
        self.assertEqual(words[:2] + words[25:28], ["a", "b", "z", "aa", "ab"])
        for w in words:
            self.assertEqual(checks.reference_tokens(w.upper() + "-7."), [w])

    def test_wordcount_check_rejects_a_wrong_result(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "text"))
            with open(os.path.join(d, "text", "t.txt"), "w") as fh:
                fh.write("x y x\n")
            out = os.path.join(d, "out")
            os.makedirs(out)
            with open(os.path.join(out, "part-00000.csv"), "w") as fh:
                fh.write("_1,_2\nx,2\ny,1\n")
            self.assertEqual(checks.check_wordcount(os.path.join(d, "text"), out), [])
            with open(os.path.join(out, "part-00000.csv"), "w") as fh:
                fh.write("_1,_2\nx,2\ny,2\n")
            self.assertTrue(checks.check_wordcount(os.path.join(d, "text"), out))

    def test_numbersort_check(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "n"))
            with open(os.path.join(d, "n", "a.txt"), "w") as fh:
                fh.write("3 1 2\n2\n")
            out = os.path.join(d, "out")
            os.makedirs(out)

            def result(vals):
                with open(os.path.join(out, "part-00000.csv"), "w") as fh:
                    fh.write("n\n" + "".join(f"{v}\n" for v in vals))
                return checks.check_numbersort(os.path.join(d, "n"), out)
            self.assertEqual(result([1, 2, 2, 3]), [])
            self.assertTrue(result([1, 2, 3, 2]))  # not ascending
            self.assertTrue(result([1, 2, 3]))  # a value lost

    def test_compare_frames(self):
        want = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        same = pd.DataFrame({"v": [1.5, 0.5], "k": [2, 1]})  # other column and row order
        self.assertEqual(checks.compare_frames("q", same, want), [])
        wrong = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5000001]})
        self.assertTrue(checks.compare_frames("q", wrong, want))
        short = pd.DataFrame({"k": [1], "v": [0.5]})
        self.assertTrue(checks.compare_frames("q", short, want))
        retyped = pd.DataFrame({"k": [1.0, 2.0], "v": [0.5, 1.5]})
        self.assertTrue(checks.compare_frames("q", retyped, want))


if __name__ == "__main__":
    unittest.main()
