"""Spark voucher column expressions vs the pure-Python oracle."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ocr_spark.functions.voucher_core import extract_voucher_codes
from ocr_spark.functions.vouchers import codes_from_text, first_occurrence_dedup


def _random_text(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randint(1, 8)):
        roll = rng.random()
        if roll < 0.4:
            code = "".join(str(rng.randrange(10)) for _ in range(16))
            # NBSP and em space are whitespace to both engines' patterns
            sep = rng.choice(["", " ", "  ", "\n", "\xa0", "\u2003"])
            parts.append(sep.join(code[i : i + 4] for i in range(0, 16, 4)))
        elif roll < 0.45:
            # Arabic-Indic digits are not [0-9]; a letter outside ASCII
            # glued to a code is no word character
            code = "".join(str(rng.randrange(10)) for _ in range(12))
            parts.append(rng.choice(["\u0661\u0662\u0663\u0664" + code,
                                     "caf\xe9" + code + "1234"]))
        elif roll < 0.5:
            parts.append("1234 1234 1234 1234")  # banned
        elif roll < 0.6:
            parts.append("".join(str(rng.randrange(10))
                                 for _ in range(rng.choice([15, 17]))))
        else:
            parts.append(rng.choice(["alpha", "beta code", "x y z"]))
    return " ".join(parts)


def test_codes_from_text_matches_oracle(spark):
    rng = random.Random(99)
    texts = [_random_text(rng) for _ in range(400)] + ["", "no digits here"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["id", "text"])
    got = {
        r["id"]: list(r["codes"])
        for r in df.select("id", codes_from_text(F.col("text")).alias("codes"))
        .collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == extract_voucher_codes(t), repr(t)


def test_duplicate_first_occurrence_order(spark):
    text = "see 5555 6666 7777 8888 then 1111222233334444 then " \
           "5555666677778888 again"
    df = spark.createDataFrame([(text,)], ["text"])
    [row] = df.select(codes_from_text(F.col("text")).alias("c")).collect()
    assert list(row["c"]) == ["5555666677778888", "1111222233334444"]


def test_first_occurrence_dedup_window(spark):
    rows = [
        ("d1", "A", 3), ("d1", "A", 1), ("d1", "B", 2),
        ("d2", "A", 5), ("d2", "B", 4), ("d2", "B", 9),
    ]
    df = spark.createDataFrame(rows, ["doc", "code", "pos"])
    out = first_occurrence_dedup(df, "doc", "code", "pos")
    got = sorted((r["doc"], r["code"], r["pos"]) for r in out.collect())
    assert got == [("d1", "A", 1), ("d1", "B", 2),
                   ("d2", "A", 5), ("d2", "B", 4)]
