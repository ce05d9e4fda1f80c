"""T4 — string type-sniff battery vs reference semantics
(``type_casting/src/types.rs:150-221``), on both the Spark expression and
the DuckDB oracle twin."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from ulp_spark.functions import sniff

# (input, expected code) — straight from FIXTURES.md T4 + the nested-battery
# quirks (str_bool -> str_int fallback) the reference tests imply.
CASES = [
    ("null", sniff.NULL),
    (" NULL ", sniff.NULL),
    ("0", sniff.NULL),
    (" 0 ", sniff.STR),          # str_null is exact-match "0"; Rust parsers don't trim
    ("true", sniff.BOOL),
    ("fAlse", sniff.BOOL),
    ("1", sniff.BOOL),           # str_bool -> str_int fallback (types.rs:163-166)
    ("+1", sniff.BOOL),
    ("00", sniff.BOOL),          # parses to 0
    ("0x1", sniff.BOOL),
    ("0x0", sniff.BOOL),
    ("42", sniff.INT),
    ("-9223372036854775808", sniff.INT),
    ("9223372036854775807", sniff.INT),
    ("9223372036854775808", sniff.FLOAT),   # i64 overflow falls to f64
    ("0x1234", sniff.INT),
    ("0X1234", sniff.INT),                  # hex goes through lower(trim())
    ("0xFFFFFFFFFFFFFFFF", sniff.STR),      # hex overflow: not int, not float
    ("2.5", sniff.FLOAT),
    ("1.0E+123", sniff.FLOAT),
    (".5", sniff.FLOAT),
    ("5.", sniff.FLOAT),
    ("inf", sniff.FLOAT),
    ("NaN", sniff.FLOAT),
    (" 42 ", sniff.STR),                    # no trim in Rust int/float parse
    ("1.0.2.4", sniff.IPV4),
    ("255.255.255.255", sniff.IPV4),
    ("256.1.1.1", sniff.STR),
    ("01.1.1.1", sniff.STR),                # std rejects leading zeros
    ("0x12.12.12.12", sniff.STR),
    ("2001:db8::1", sniff.IPV6),
    ("0:0:0:0:0:0:0:1", sniff.IPV6),
    ("::1", sniff.IPV6),
    ("::", sniff.IPV6),
    ("::ffff:1.2.3.4", sniff.IPV6),
    ("0:0:0:0:0:ffff:1.2.3.4", sniff.IPV6),  # uncompressed v4-embedded form
    ("1:2::3:4.5.6.7", sniff.IPV6),          # partially-compressed v4 tail
    ("1:2:3:4:5::1.2.3.4", sniff.IPV6),
    ("1:2:3:4.5.6.7", sniff.STR),            # too few groups, no ::
    ("fe80::1%eth0", sniff.STR),             # scope ids rejected (std too)
    ("1.0.0.0", sniff.IPV4),                # ipv4 wins (tested before ipv6)
    ("2022-03-23T10:00:00+01:00", sniff.DATE),
    ("2022-03-23T10:00:00Z", sniff.DATE),
    ("2022-03-23T10:00:00.123Z", sniff.DATE),
    ("2022-03-23 10:00:00", sniff.STR),     # RFC3339 only
    ("2024-13-40T25:61:61Z", sniff.STR),    # field ranges enforced (chrono)
    ("2024-01-10T10:00:00+99:99", sniff.STR),  # offset range enforced
    ("2024-02-31T10:00:00Z", sniff.STR),    # calendar-exact: Feb has no 31st
    ("2024-04-31T10:00:00Z", sniff.STR),    # 30-day month
    ("2024-04-30T10:00:00Z", sniff.DATE),
    ("2024-02-29T10:00:00Z", sniff.DATE),   # leap year
    ("2023-02-29T10:00:00Z", sniff.STR),    # not a leap year
    ("2000-02-29T10:00:00Z", sniff.DATE),   # century %400 == 0
    ("1900-02-29T10:00:00Z", sniff.STR),    # century %400 != 0
    ("2022-03-23t10:00:00z", sniff.DATE),   # RFC3339 case-insensitive T/Z
    ("2016-12-31T23:59:60Z", sniff.STR),    # leap second: PINNED deviation
                                            # (chrono folds it; we reject)
    ("not_an_int", sniff.STR),
    ("2,147,483,647", sniff.STR),
    (None, sniff.NULL),
]


@pytest.fixture(scope="module")
def sniffed(spark):
    df = spark.createDataFrame([(i, s) for i, (s, _) in enumerate(CASES)], "i int, s string")
    rows = df.select("i", F.expr(sniff.sniff_code("s")).alias("c")).orderBy("i").collect()
    return [r.c for r in rows]


def test_sniff_spark(sniffed):
    got = list(zip([s for s, _ in CASES], sniffed))
    exp = list(zip([s for s, _ in CASES], [c for _, c in CASES]))
    assert got == exp


def test_sniff_duckdb_twin():
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(i, s) for i, (s, _) in enumerate(CASES)])
    rows = con.sql(
        f"SELECT {sniff.sniff_code_sql('s')} FROM t ORDER BY i"
    ).fetchall()
    got = [r[0] for r in rows]
    assert got == [c for _, c in CASES]


def test_resolve_mask_py():
    B = sniff.BIT
    assert sniff.resolve_mask_py(B[sniff.NULL]) == sniff.NULL
    for c in range(1, 8):
        assert sniff.resolve_mask_py(B[c]) == c                       # identity
        assert sniff.resolve_mask_py(B[sniff.NULL] | B[c]) == c       # Null ⊔ X = X
    assert sniff.resolve_mask_py(B[sniff.BOOL] | B[sniff.INT]) == sniff.INT
    assert sniff.resolve_mask_py(B[sniff.INT] | B[sniff.FLOAT]) == sniff.FLOAT
    assert sniff.resolve_mask_py(B[sniff.BOOL] | B[sniff.INT] | B[sniff.FLOAT]) == sniff.FLOAT
    assert sniff.resolve_mask_py(B[sniff.IPV4] | B[sniff.IPV6]) == sniff.STR
    assert sniff.resolve_mask_py(B[sniff.DATE] | B[sniff.INT]) == sniff.STR
    # pinned canonicalization of the reference's asymmetric pairs:
    assert sniff.resolve_mask_py(B[sniff.FLOAT] | B[sniff.IPV6]) == sniff.STR
    assert sniff.resolve_mask_py(B[sniff.FLOAT] | B[sniff.DATE]) == sniff.STR
    assert sniff.resolve_mask_py(B[sniff.INT] | B[sniff.IPV4]) == sniff.STR


def test_resolve_mask_spark_matches_py(spark):
    masks = list(range(1, 256))
    df = spark.createDataFrame([(m,) for m in masks], "m int")
    rows = df.select("m", F.expr(sniff.resolve_mask("m")).alias("c")).orderBy("m").collect()
    for r in rows:
        assert r.c == sniff.resolve_mask_py(r.m), f"mask={r.m}"


def test_resolve_mask_duckdb_matches_py():
    rows = duckdb.sql(
        f"SELECT m, {sniff.resolve_mask_sql('m')} FROM range(1, 256) t(m) ORDER BY m"
    ).fetchall()
    for m, c in rows:
        assert c == sniff.resolve_mask_py(m), f"mask={m}"


def test_merge_is_commutative_and_associative():
    # The property the distributed fold needs (reference merge is not
    # commutative for (Float,IPv6)/(Float,Date) — ours is, by construction).
    for a in range(8):
        for b in range(8):
            assert sniff.merge_codes_py(a, b) == sniff.merge_codes_py(b, a)
            for c in range(8):
                ab_c = sniff.merge_codes_py(sniff.merge_codes_py(a, b), c)
                a_bc = sniff.merge_codes_py(a, sniff.merge_codes_py(b, c))
                assert ab_c == a_bc


def test_sniff_three_engine_fuzz(spark):
    """Deterministic fuzz over the sniff alphabet: the Spark expression
    (Java regex), the DuckDB twin (RE2), and the pure-Python oracle
    (re module) must classify every string identically — the three regex
    engines are the riskiest drift surface in the whole battery."""
    import duckdb

    from ulp_spark import oracle

    alphabet = "0123456789abcdefABCDEF.:+-eExXzZ TtruefalsNI/n"
    strings = []
    state = 123456789
    for i in range(1500):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        n = 1 + (state % 24)
        s, st = [], state
        for _ in range(n):
            st = (st * 2862933555777941757 + 3037000493) % (1 << 64)
            s.append(alphabet[st % len(alphabet)])
        strings.append("".join(s))
    # targeted near-boundary forms on top of the fuzz
    strings += ["0x" + "f" * 15, "0x0" + "7" * 15, "1e308", "1e309",
                "9223372036854775807", "9223372036854775808",
                "::ffff:255.255.255.255", "1:2:3:4:5:6:7:8:9",
                "2024-02-29T23:59:59+14:00", "2024-02-29T23:59:59+24:00",
                "+.5e-3", "-.", ".", "..", "0x", " null", "0.0.0.0", "."]

    py = [oracle.sniff_py(s) for s in strings]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "i int, s string")
    sp = [r.c for r in df.select("i", F.expr(sniff.sniff_code("s")).alias("c"))
          .orderBy("i").collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(i, s) for i, s in enumerate(strings)])
    dk = [r[0] for r in con.sql(
        f"SELECT {sniff.sniff_code_sql('s')} FROM t ORDER BY i").fetchall()]

    for i, s in enumerate(strings):
        assert py[i] == sp[i] == dk[i], (
            f"engine drift on {s!r}: py={py[i]} spark={sp[i]} duck={dk[i]}")


def test_sql_text_is_conf_independent(spark, sniffed):
    """The SQL-text builders mean the same under either setting of
    ``spark.sql.parser.escapedStringLiterals`` (the Column DSL never
    depended on it): the sniff golden cases, a parse_lines case with a
    separator-poisoned line (regexes with backslashes) and a date cast
    (a format with quotes) give the default conf's rows."""
    from ulp_spark.functions import casts
    from ulp_spark.operators import parse as parse_op

    key = "spark.sql.parser.escapedStringLiterals"
    df = spark.createDataFrame([(i, s) for i, (s, _) in enumerate(CASES)],
                               "i int, s string")
    lines = spark.createDataFrame(
        [(f"2024-01-01T00:00:00Z INFO doc=a{parse_op.GROUP_SEP}b src=x n=5",),
         ('2024-01-01T00:00:00Z WARN provider="P \\ q" doc=d src= n=7',)],
        "line string")
    dates = spark.createDataFrame(
        [("2022-03-23T10:00:00+01:00",), ("2022-03-23t10:00:00.5z",)],
        "s string")

    def run():
        codes = [r.c for r in df.select("i", F.expr(sniff.sniff_code("s"))
                                        .alias("c")).orderBy("i").collect()]
        parsed = sorted(repr(tuple(r)) for r in
                        parse_op.parse_lines(lines).collect())
        val, _ = casts.cast_field("s", str(sniff.STR), sniff.DATE,
                                  sniff.sniff_code("s"))
        cast = [r[0] for r in dates.select(F.expr(val)).collect()]
        return codes, parsed, cast

    default = run()
    assert default[0] == sniffed
    assert default[2] == ["2022-03-23T09:00:00+00:00",
                          "2022-03-23T10:00:00.5+00:00"]
    spark.conf.set(key, "true")
    try:
        escaped = run()
    finally:
        spark.conf.unset(key)
    assert escaped == default
