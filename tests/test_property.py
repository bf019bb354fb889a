"""Property-based tests (hypothesis): parser round-trips and percentile
semantics. Pure-Python paths only — no SparkSession — so they run fast
and can explore many cases."""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st

from ticktock_spark.sources import parsers
from ticktock_spark.sources.parsers import (
    parse_influx_line,
    parse_put_line,
)

IDENT = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789._-",
    min_size=1,
    max_size=12,
)
# identifiers that exercise the influx escape state machine
RAW_IDENT = st.text(
    alphabet="abcz09, =\\",
    min_size=1,
    max_size=10,
).filter(lambda s: s.strip(" ,=\\") != "" and "\\" not in s)


def _esc(s: str) -> str:
    return s.replace(",", "\\,").replace("=", "\\=").replace(" ", "\\ ")


@given(
    metric=IDENT,
    ts=st.integers(min_value=1_000_000_000_000, max_value=1_999_999_999_999),
    value=st.floats(allow_nan=False, allow_infinity=False, width=32),
    tags=st.dictionaries(IDENT, IDENT, min_size=0, max_size=4),
)
@settings(max_examples=200)
def test_put_line_roundtrip(metric, ts, value, tags):
    line = f"put {metric} {ts} {value!r} " + " ".join(
        f"{k}={v}" for k, v in tags.items()
    )
    dp = parse_put_line(line)
    assert dp is not None
    assert dp["metric"] == metric
    assert dp["ts"] == ts  # ms-magnitude passes through unscaled
    assert math.isclose(dp["value"], value, rel_tol=1e-6, abs_tol=1e-6)
    assert dp["tags"] == tags


@given(
    ts_ns=st.integers(min_value=1_000_000_000_000_000_000, max_value=1_999_999_999_999_999_999),
)
@settings(max_examples=200)
def test_put_line_ns_exact(ts_ns):
    # ns → ms downscale must be exact integer division, never float
    dp = parse_put_line(f"put m {ts_ns} 1.0 a=b")
    assert dp["ts"] == ts_ns // 1_000_000


@given(
    measurement=RAW_IDENT,
    tags=st.dictionaries(RAW_IDENT, RAW_IDENT, min_size=0, max_size=3),
    fields=st.dictionaries(
        RAW_IDENT,
        st.floats(allow_nan=False, allow_infinity=False, width=32),
        min_size=1,
        max_size=3,
    ),
    ts_ms=st.integers(min_value=1_000_000_000_000, max_value=1_999_999_999_999),
)
@settings(max_examples=200)
def test_influx_line_roundtrip(measurement, tags, fields, ts_ms):
    # build a line with full escaping of , = and space in identifiers
    head = _esc(measurement)
    if tags:
        head += "," + ",".join(f"{_esc(k)}={_esc(v)}" for k, v in tags.items())
    body = ",".join(f"{_esc(k)}={v!r}" for k, v in fields.items())
    line = f"{head} {body} {ts_ms * 1_000_000}"  # ns timestamp
    dps = parse_influx_line(line)
    assert len(dps) == len(fields)
    by_field = {d["tags"]["_field"]: d for d in dps}
    assert set(by_field) == set(fields)
    for fname, fval in fields.items():
        d = by_field[fname]
        assert d["metric"] == measurement
        assert d["ts"] == ts_ms
        assert math.isclose(d["value"], fval, rel_tol=1e-6, abs_tol=1e-6)
        for k, v in tags.items():
            assert d["tags"][k] == v


# influx line text: separators, escapes and field-value characters
_LINE_CHARS = "ab=, iuT.9-\"#"
NO_ESC_TEXT = st.text(alphabet=_LINE_CHARS, max_size=30)
ESC_TEXT = st.builds(
    lambda a, b: a + "\\" + b, NO_ESC_TEXT, st.text(alphabet=_LINE_CHARS + "\\", max_size=30)
)


def _state_machine_partition(s: str, sep: str) -> tuple[str, str]:
    parts = parsers._split_escaped(s, sep)
    return parts[0], sep.join(parts[1:])


def _state_machine_unescape(s: str) -> str:
    return s.replace("\\,", ",").replace("\\=", "=").replace("\\ ", " ")


@given(s=st.one_of(NO_ESC_TEXT, ESC_TEXT), sep=st.sampled_from([" ", ",", "="]))
@settings(max_examples=400)
def test_escape_shortcut_matches_state_machine(s, sep):
    """Without a backslash the escape helpers take str.split /
    str.partition / identity; on strings with and without one they equal
    the escape state machine."""
    assert parsers._split_unescaped(s, sep) == parsers._split_escaped(s, sep)
    assert parsers._partition_unescaped(s, sep) == _state_machine_partition(s, sep)
    assert parsers._unescape(s) == _state_machine_unescape(s)


@given(
    head=st.one_of(NO_ESC_TEXT, ESC_TEXT),
    fields=st.one_of(NO_ESC_TEXT, ESC_TEXT),
    ts=st.sampled_from(["", " 1700000000000000000", " 1700000000"]),
)
@settings(max_examples=400)
def test_influx_line_shortcut_matches_state_machine(head, fields, ts):
    """Whole lines parse the same with the shortcut as with the state
    machine alone."""
    from unittest import mock

    def outcome(line):
        try:
            return parse_influx_line(line)
        except ValueError as e:  # an unparseable timestamp, on both paths
            return repr(e)

    line = f"{head} {fields}{ts}"
    with mock.patch.multiple(
        parsers,
        _split_unescaped=parsers._split_escaped,
        _partition_unescaped=_state_machine_partition,
        _unescape=_state_machine_unescape,
    ):
        want = outcome(line)
    assert outcome(line) == want


def _r6_reference(sorted_vals: list[float], quantile: float) -> float:
    """Direct transcription of aggregate.cpp:341-387 for cross-checking."""
    n = len(sorted_vals)
    p = quantile / 100.0
    if n == 0:
        return float("nan")
    if n == 1:
        return sorted_vals[0]
    if p <= 0.0:
        idx = 0.0
    elif p >= 1.0:
        idx = float(n)
    else:
        idx = p * (n + 1)
    if idx < 1.0:
        return sorted_vals[0]
    if idx >= n:
        return sorted_vals[n - 1]
    i = int(idx)
    lower = sorted_vals[i - 1]
    upper = sorted_vals[i]
    return lower + (idx - math.floor(idx)) * (upper - lower)


def test_percentile_r6_matches_reference_randomized(spark):
    # one Spark job per quantile over 120 seeded-random arrays, each
    # cross-checked against a direct transcription of aggregate.cpp
    import random

    from pyspark.sql import functions as F

    from ticktock_spark.operators.downsample import percentile_r6_on_array

    rng = random.Random(20260813)
    cases = [
        (i, sorted(rng.uniform(-1e6, 1e6) for _ in range(rng.randint(1, 40))))
        for i in range(120)
    ]
    df = spark.createDataFrame(cases, "id long, vals array<double>")
    for q in (50.0, 75.0, 90.0, 95.0, 99.0, 99.9):
        got = {
            r["id"]: r["p"]
            for r in df.select(
                "id", percentile_r6_on_array(F.col("vals"), q).alias("p")
            ).collect()
        }
        for i, vals in cases:
            exp = _r6_reference(vals, q)
            assert math.isclose(got[i], exp, rel_tol=1e-12, abs_tol=1e-12), (i, q)


def test_text_cleanup_properties_randomized(spark):
    """Randomized invariants for the round-2 text ops, one Spark round
    trip for many generated docs:
    - collapse_repeat_tokens is idempotent and never grows the stream;
    - cap_to_vocab: n_unk <= n_tokens, capped text has n_tokens tokens;
    - oov_stats: 0 <= n_oov <= n_tokens and rate = n_oov/n_tokens.
    """
    import random

    from pyspark.sql import functions as F

    from ticktock_spark.pipeline import text as tx

    rng = random.Random(99)
    words = ["alpha", "beta", "gamma", "de lta", "x1", "", "!!!", "the"]
    docs = []
    for i in range(120):
        n = rng.randrange(0, 12)
        docs.append((i, " ".join(rng.choice(words) for _ in range(n))))
    docs.append((999, None))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    once = tx.collapse_repeat_tokens(df)
    twice = tx.collapse_repeat_tokens(
        once.select(F.col("doc_id"), F.col("text_clean").alias("text"))
    )
    o = {r["doc_id"]: r for r in once.collect()}
    t = {r["doc_id"]: r for r in twice.collect()}
    for i, r in o.items():
        if r["n_tokens"] is None:
            assert t[i]["n_tokens"] is None
            continue
        assert r["n_kept"] <= r["n_tokens"]
        assert t[i]["text_clean"] == r["text_clean"]          # idempotent
        assert t[i]["n_tokens"] == t[i]["n_kept"] == r["n_kept"]

    capped = {r["doc_id"]: r for r in tx.cap_to_vocab(df, vocab_size=3).collect()}
    for i, r in capped.items():
        if r["n_tokens"] is None:
            continue
        assert 0 <= r["n_unk"] <= r["n_tokens"]
        n_text = len(r["text_capped"].split()) if r["text_capped"] else 0
        assert n_text == r["n_tokens"]

    oov = {r["doc_id"]: r for r in tx.oov_stats(df, vocab_size=3).collect()}
    for i, r in oov.items():
        assert 0 <= r["n_oov"] <= r["n_tokens"]
        if r["n_tokens"] > 0:
            assert r["oov_rate"] == r["n_oov"] / r["n_tokens"]
        else:
            assert r["oov_rate"] is None


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=9),
    rgb=st.booleans(),
    comment=st.booleans(),
    sep=st.sampled_from([b" ", b"\n", b"\t", b"\r\n"]),
    data=st.data(),
)
@settings(max_examples=200, deadline=None)
def test_netpbm_parser_matches_reference(w, h, rgb, comment, sep, data):
    """The stdlib netpbm decoder agrees with an independent pure-Python
    reference on random rasters, header whitespace variants, and header
    comments; trailing garbage after the raster is ignored (netpbm
    rasters are length-delimited by the header)."""
    from ticktock_spark.pipeline.multimodal import _decode_netpbm

    ch = 3 if rgb else 1
    raster = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * ch, max_size=w * h * ch
            )
        )
    )
    magic = b"P6" if rgb else b"P5"
    cmt = b"# a comment line\n" if comment else b""
    payload = (
        magic + sep + cmt + str(w).encode() + sep + str(h).encode()
        + sep + b"255\n" + raster + b"trailing-ignored"
    )
    got = _decode_netpbm(payload)
    assert got is not None
    # independent reference: per-pixel integer luma, then stats
    if rgb:
        # PIL convert("L")'s exact fixed-point ITU-R 601-2 luma
        gray = [
            (raster[i] * 19595 + raster[i + 1] * 38470 + raster[i + 2] * 7471)
            >> 16
            for i in range(0, len(raster), 3)
        ]
    else:
        gray = list(raster)
    exp_mean = sum(gray) / (w * h)
    exp_bins = [0.0] * 8
    for g in gray:
        exp_bins[g // 32] += 1.0
    assert got[0] == w and got[1] == h
    assert math.isclose(got[2], exp_mean, rel_tol=0, abs_tol=1e-9)
    assert got[3] == exp_bins


@given(data=st.binary(max_size=40))
@settings(max_examples=200, deadline=None)
def test_netpbm_parser_never_crashes_on_garbage(data):
    """Arbitrary bytes (including truncated P5/P6 prefixes) either parse
    or return None — never raise."""
    from ticktock_spark.pipeline.multimodal import _decode_netpbm

    for prefix in (b"", b"P5", b"P6", b"P5 ", b"P6\n#"):
        out = _decode_netpbm(prefix + data)
        assert out is None or (len(out) == 4 and out[0] > 0 and out[1] > 0)


def test_rolling_percentile_r6_matches_reference_randomized(spark):
    # seeded-random single-series walk cross-checked window-by-window
    # against the same aggregate.cpp transcription used above
    import random

    from pyspark.sql import functions as F  # noqa: F401

    from ticktock_spark.operators.rolling import rolling_percentile_r6

    rng = random.Random(20260815)
    vals = [rng.uniform(-1e4, 1e4) for _ in range(60)]
    df = spark.createDataFrame(
        [("s", i, v) for i, v in enumerate(vals)],
        "metric string, ts long, value double",
    )
    for q, lb in ((95.0, 8), (50.0, 5)):
        got = {
            r["ts"]: (r["pct"], r["n_window"])
            for r in rolling_percentile_r6(df, ["metric"], q, lb).collect()
        }
        for i in range(len(vals)):
            window = sorted(vals[max(0, i - lb + 1) : i + 1])
            exp = _r6_reference(window, q)
            exp = math.floor(exp * 1e6 + 0.5) / 1e6
            assert got[i][1] == len(window)
            assert math.isclose(got[i][0], exp, rel_tol=0, abs_tol=1e-9), (i, q)


def test_epoch_shuffle_is_permutation_randomized(spark):
    # any (n_shards, epoch): coordinates form a bijection onto
    # {(s, 1..count_s)} and reshuffle completely across epochs
    import random

    from pyspark.sql import functions as F

    from ticktock_spark.pipeline.sample import epoch_shuffle

    rng = random.Random(42)
    docs = spark.range(300).select(F.col("id").alias("doc_id"))
    for _ in range(3):
        ns, ep = rng.randint(1, 17), rng.randint(0, 99)
        rows = epoch_shuffle(docs, ns, ep).collect()
        assert len(rows) == 300
        coords = {(r["shard"], r["pos"]) for r in rows}
        assert len(coords) == 300  # injective
        by_shard: dict = {}
        for r in rows:
            assert 0 <= r["shard"] < ns
            by_shard.setdefault(r["shard"], []).append(r["pos"])
        for ps in by_shard.values():
            assert sorted(ps) == list(range(1, len(ps) + 1))  # contiguous
