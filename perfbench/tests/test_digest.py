"""Tests of answer normalisation: python3 -m unittest discover perfbench/tests"""
import datetime
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
from benchlib import digest  # noqa: E402


class CanonTest(unittest.TestCase):
    def test_numbers_to_nine_significant_digits(self):
        self.assertEqual(digest.canon("3.14159265358979"), "3.14159265")
        self.assertEqual(digest.canon("1.0E7"), "10000000")       # Java Double.toString
        self.assertEqual(digest.canon("10000000.0"), "10000000")  # Python repr
        self.assertEqual(digest.canon("5.0"), "5")
        self.assertEqual(digest.canon("1234.50"), "1234.5")       # DECIMAL(…, 2)
        self.assertEqual(digest.canon("1.2E-5"), "0.000012")
        self.assertEqual(digest.canon("-0.0"), "0")

    def test_integers_keep_every_digit(self):
        self.assertEqual(digest.canon("12345678901234567"), "12345678901234567")
        self.assertEqual(digest.canon("+007"), "7")

    def test_rounding_is_half_even_on_the_binary_value(self):
        # 0.1234567895 is stored just below the tie, so it rounds down
        self.assertEqual(digest.canon("0.1234567895"), "0.123456789")
        self.assertEqual(digest.canon("2.5000000005"), "2.5")

    def test_special_values(self):
        self.assertEqual(digest.canon("NaN"), "nan")
        self.assertEqual(digest.canon("Infinity"), "inf")
        self.assertEqual(digest.canon("-Infinity"), "-inf")
        self.assertEqual(digest.canon("True"), "true")
        self.assertEqual(digest.canon(None), digest.NULL)
        self.assertEqual(digest.canon("\\N"), digest.NULL)

    def test_timestamps(self):
        self.assertEqual(digest.canon("2024-01-02 03:04:05.0"), "2024-01-02 03:04:05")
        self.assertEqual(digest.canon("2024-01-02T03:04"), "2024-01-02 03:04:00")
        self.assertEqual(digest.canon("2024-01-02 03:04:05.120000"), "2024-01-02 03:04:05.12")
        self.assertEqual(digest.canon("2024-01-02"), "2024-01-02")

    def test_text_is_kept(self):
        self.assertEqual(digest.canon("AIR REG"), "AIR REG")
        self.assertEqual(digest.canon(""), "")


class AnswerTest(unittest.TestCase):
    def test_order_insensitive(self):
        rows = [(1, "a", 2.5), (2, "b", None), (3, "c,d", 1e7)]
        self.assertEqual(digest.csv_answer(rows), digest.csv_answer(rows[::-1]))
        self.assertEqual(digest.typed_answer(["x", "y", "z"], rows),
                         digest.typed_answer(["x", "y", "z"], rows[::-1]))

    def test_duplicate_rows_count(self):
        one = digest.csv_answer([(1,)])
        two = digest.csv_answer([(1,), (1,)])
        self.assertEqual(two[0], 2)
        self.assertNotEqual(one[1], two[1])

    def test_engines_render_alike(self):
        # DuckDB's Python values against the text Spark's CSV renderer prints
        duck = [(decimal.Decimal("12.50"), datetime.datetime(2024, 1, 2, 3, 4, 5), True, 7.0)]
        spark_line = "12.5,2024-01-02 03:04:05.0,true,7.0"
        n, d = digest.csv_answer(duck)
        self.assertEqual(n, 1)
        expect = digest.row_hash([digest.canon(t) for t in spark_line.split(",")])
        self.assertEqual(d, "%016x" % expect)

    def test_typed_columns_sorted_by_name(self):
        a = digest.typed_answer(["b", "a"], [(1, [0.5, None])])
        b = digest.typed_answer(["a", "b"], [([0.5, None], 1)])
        self.assertEqual(a, b)
        self.assertEqual(digest.token([0.5, None, 2.0]), "[0.5,\\N,2]")

    def test_empty(self):
        self.assertEqual(digest.csv_answer([]), (0, "0000000000000000"))


if __name__ == "__main__":
    unittest.main()
