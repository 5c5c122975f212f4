"""Property-based tests (hypothesis): query_logs vs a pure-Python
reference model on randomized inputs — the semantics of db.go:81-99
hold for ALL inputs, not just the fixture rows."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from clickhouse_observability_spark.operators.query_logs import query_logs
from clickhouse_observability_spark.schema import LOGS_SCHEMA

BASE = dt.datetime(2025, 9, 1)

services = st.sampled_from(["orders", "payments", "inventory"])
levels = st.sampled_from(["INFO", "WARN", "ERROR", "DEBUG"])
users = st.sampled_from(["alice", "bob", ""])


@st.composite
def logs_rows(draw):
    n = draw(st.integers(min_value=0, max_value=25))
    rows = []
    for i in range(n):
        ts = BASE + dt.timedelta(minutes=draw(st.integers(0, 600)))
        user = draw(users)
        attrs = f'{{"user": "{user}"}}' if user else draw(st.sampled_from(["{}", ""]))
        rows.append(
            (ts, draw(services), draw(levels), f"m{i}", attrs, f"t{i}", f"s{i}")
        )
    return rows


def _model(rows, service, frm, to, level, user, limit):
    """Pure-Python reference of the db.go:81-99 template.

    `ORDER BY ts DESC LIMIT n` alone is nondeterministic under equal
    timestamps (the reference has the identical freedom, db.go:98), so
    the model mirrors the explicit `msg DESC` tie-break the test passes
    to query_logs — the same pattern every registry query uses via
    `event_id DESC` (queries/parity.py). A tie-free ordering is the
    only thing a cross-engine multiset comparison can legally pin.
    """
    import json

    out = []
    for r in rows:
        ts, svc, lvl, msg, attrs, tr, sp = r
        if svc != service or not (frm <= ts < to):
            continue
        if level and lvl != level:
            continue
        if user:
            try:
                if json.loads(attrs).get("user") != user:
                    continue
            except (ValueError, AttributeError):
                continue
        out.append(r)
    out.sort(key=lambda r: (r[0], r[3]), reverse=True)
    return out[:limit]


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=logs_rows(),
    service=services,
    level=st.one_of(st.none(), levels),
    user=st.one_of(st.none(), st.sampled_from(["alice", "bob", "nobody"])),
    window=st.tuples(st.integers(0, 600), st.integers(0, 600)),
    limit=st.integers(1, 30),
)
def test_query_logs_matches_model(spark, rows, service, level, user, window, limit):
    frm = BASE + dt.timedelta(minutes=min(window))
    to = BASE + dt.timedelta(minutes=max(window))
    import pyspark.sql.functions as F

    df = spark.createDataFrame(rows, LOGS_SCHEMA) if rows else spark.createDataFrame([], LOGS_SCHEMA)
    got = query_logs(
        df, service, frm, to, level=level, user=user, limit=limit,
        ts_tiebreak=F.col("msg").desc(),
    ).collect()
    want = _model(rows, service, frm, to, level, user, limit)
    # tie-broken ordering is total, so the multiset (and order) is pinned
    assert sorted((r.ts, r.msg) for r in got) == sorted((w[0], w[3]) for w in want)
    # and the returned order is (ts, msg)-descending
    key_list = [(r.ts, r.msg) for r in got]
    assert key_list == sorted(key_list, reverse=True)


@st.composite
def interval_fixture(draw):
    n_ev = draw(st.integers(min_value=0, max_value=30))
    n_iv = draw(st.integers(min_value=0, max_value=8))
    evs = [
        (i, BASE + dt.timedelta(minutes=draw(st.integers(0, 2000))))
        for i in range(n_ev)
    ]
    ivs = []
    for _ in range(n_iv):
        s = draw(st.integers(0, 2000))
        e = draw(st.integers(-30, 2000))  # may be degenerate/inverted
        ivs.append(
            (BASE + dt.timedelta(minutes=s), BASE + dt.timedelta(minutes=s + e))
        )
    width = draw(st.sampled_from([60, 600, 3600, 7200]))
    return evs, ivs, width


@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(fx=interval_fixture())
def test_interval_join_matches_python_model(spark, fx):
    # Binned rewrite == brute-force containment for ALL inputs, any
    # bin width, including empty sides and degenerate intervals.
    from clickhouse_observability_spark.operators.joins import interval_join

    evs, ivs, width = fx
    ev_df = spark.createDataFrame(evs or [(0, BASE)], "event_id long, ts timestamp")
    if not evs:
        ev_df = ev_df.filter("event_id < 0")
    iv_df = spark.createDataFrame(
        ivs or [(BASE, BASE)], "start_ts timestamp, end_ts timestamp"
    )
    if not ivs:
        iv_df = iv_df.filter("start_ts IS NULL")
    got = sorted(
        (r.event_id, r.start_ts, r.end_ts)
        for r in interval_join(ev_df, iv_df, bin_width_sec=width).collect()
    )
    expect = sorted(
        (eid, s, e)
        for eid, ts in evs
        for s, e in ivs
        if s <= ts < e
    )
    assert got == expect


@settings(
    max_examples=15, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(
            alphabet="abc @.19-xyz_ ",
            min_size=0, max_size=60,
        ),
        min_size=1, max_size=8,
    )
)
def test_pii_counts_match_python_re(spark, texts):
    # Spark regexp_count == Python re on the same pattern class for
    # arbitrary noisy text (shared RE2/Java-compatible dialect).
    import re

    from clickhouse_observability_spark.operators.text_analysis import (
        PII_PATTERNS,
        pii_scrub,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in pii_scrub(df).collect()}
    for i, t in enumerate(texts):
        for name, pat in PII_PATTERNS.items():
            assert getattr(rows[i], f"n_{name}") == len(re.findall(pat, t)), (
                name, t
            )


# ---------------------------------------------------------------------------
# sequence packing vs python reference on randomized corpora
# ---------------------------------------------------------------------------

words = st.sampled_from(["alpha", "beta", "gamma", "x", "token"])


@st.composite
def doc_corpus(draw):
    n = draw(st.integers(min_value=0, max_value=18))
    rows = []
    for i in range(n):
        n_words = draw(st.integers(0, 40))
        text = " ".join(draw(words) for _ in range(n_words))
        # whitespace-noise variants exercise the tokenizer edge cases
        if draw(st.booleans()):
            text = "  " + text.replace(" ", "   ", 1) if text else "   "
        rows.append((i, text))
    return rows


@given(doc_corpus(), st.sampled_from([3, 7, 16]))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pack_chunks_property_matches_reference(spark, rows, budget):
    import re

    from clickhouse_observability_spark.operators.text_analysis import (
        pack_training_chunks,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string") if rows else \
        spark.createDataFrame([], "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.chunk_id, r.doc_tok_start, r.chunk_tok_start, r.n_toks)
        for r in pack_training_chunks(df, budget=budget).collect()
    )
    exp = []
    pos = 0
    for doc_id, text in sorted(rows):
        n = len([t for t in re.split(r"\s+", text.strip().lower()) if t])
        if not n:
            continue
        start = pos
        for chunk in range(start // budget, (start + n - 1) // budget + 1):
            lo = max(start, chunk * budget)
            hi = min(start + n, (chunk + 1) * budget)
            exp.append((doc_id, chunk, lo - start, lo - chunk * budget, hi - lo))
        pos += n
    assert got == sorted(exp)


@given(st.lists(st.text(alphabet="ab c\n\t", min_size=0, max_size=30),
                min_size=0, max_size=8))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_winnowing_property_matches_reference(spark, texts):
    import hashlib
    import re

    from clickhouse_observability_spark.operators.text_analysis import (
        winnowing_fingerprints,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string") if rows else \
        spark.createDataFrame([], "doc_id long, text string")
    got = {r.doc_id: (r.n_fingerprints, r.min_fp)
           for r in winnowing_fingerprints(df, k=3, window=2).collect()}

    def ref(text, k=3, window=2):
        # SQL trim strips SPACES only (both engines agree); a python
        # str.strip() here would diverge on edge \n/\t — found by this
        # very property test
        norm = re.sub(r"\s+", " ", text.strip(" ")).lower()
        if len(norm) < k:
            return None
        gs = [hashlib.md5(norm[i:i + k].encode()).hexdigest()
              for i in range(len(norm) - k + 1)]
        if len(gs) < window:
            return None
        fps = [min(gs[p - window + 1:p + 1]) for p in range(window - 1, len(gs))]
        return (len(set(fps)), min(fps))

    exp = {i: ref(t) for i, t in rows}
    exp = {i: v for i, v in exp.items() if v is not None}
    assert got == exp


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 12),
    h=st.integers(1, 12),
    seed=st.integers(0, 10_000),
    interlace=st.booleans(),
)
def test_png_roundtrip_property(w, h, seed, interlace):
    """Lossless PNG: encode(decode) == PPM ground truth for arbitrary
    geometry/content, both interlace modes."""
    import random

    from clickhouse_observability_spark.operators import multimodal as M

    rnd = random.Random(seed)
    rgb = [
        [tuple(rnd.randrange(256) for _ in range(3)) for _ in range(w)]
        for _ in range(h)
    ]
    ref = M.decode_image(M.encode_ppm(rgb))
    assert M.decode_image(M.encode_png(rgb, interlace=1 if interlace else 0)) == ref


@settings(max_examples=15, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 24),
    seed=st.integers(0, 10_000),
    progressive=st.booleans(),
)
def test_jpeg_q100_roundtrip_property(w, h, seed, progressive):
    """JPEG at q=100 (all-ones quant): near-lossless for arbitrary
    content, and the progressive stream decodes IDENTICALLY to the
    baseline one."""
    import random

    import numpy as np

    from clickhouse_observability_spark.operators import jpeg as J

    rnd = random.Random(seed)
    rgb = [
        [tuple(rnd.randrange(256) for _ in range(3)) for _ in range(w)]
        for _ in range(h)
    ]
    base = J.decode_jpeg_luma(J.encode_jpeg(rgb, quality=100))
    if progressive:
        prog = J.decode_jpeg_luma(
            J.encode_jpeg(rgb, quality=100, progressive=True)
        )
        assert prog == base
    r = np.array(rgb, float)
    y = 0.299 * r[..., 0] + 0.587 * r[..., 1] + 0.114 * r[..., 2]
    assert np.abs(np.array(base, float) - y).max() <= 2.0


# ---------------------------------------------------------------------------
# CH dialect translator robustness: every expressible statement either
# translates to Spark-ANALYZABLE SQL or raises ChDialectError — never a
# garbled statement that Spark's parser trips over downstream.
# ---------------------------------------------------------------------------

_CH_NUM = st.sampled_from(["1", "2.5", "0", "42", "-3"])
_CH_STR = st.sampled_from(["'a'", "'err or'", "'x.y'", "''"])
_CH_TS = st.just("toDateTime('2024-03-06 12:00:00')")


def _ch_expr(depth: int):
    base = st.one_of(
        _CH_NUM,
        _CH_STR,
        st.builds(lambda xs: "[" + ", ".join(xs) + "]",
                  st.lists(_CH_NUM, min_size=1, max_size=3)),
    )
    if depth <= 0:
        return base
    inner = _ch_expr(depth - 1)
    return st.one_of(
        base,
        st.builds(lambda x: f"toStartOfHour({_CH_TS_VAL})", st.just(0)),
        st.builds("multiIf({} > 1, {}, {})".format, _CH_NUM, inner, inner),
        st.builds("ifNull({}, {})".format, inner, inner),
        st.builds("arraySum(x -> x * 2, [{}, {}])".format, _CH_NUM, _CH_NUM),
        st.builds("arrayFilter(x -> x > {}, [{}, {}])".format,
                  _CH_NUM, _CH_NUM, _CH_NUM),
        st.builds("arrayStringConcat([{}, {}], '-')".format, _CH_STR, _CH_STR),
        st.builds("toString({})".format, inner),
        st.builds("greatest({}, {})".format, _CH_NUM, _CH_NUM),
        st.builds("indexOf([{}, {}], {})".format, _CH_NUM, _CH_NUM, _CH_NUM),
        st.builds("lcase({})".format, _CH_STR),
        st.builds("position({}, {})".format, _CH_STR, _CH_STR),
    )


_CH_TS_VAL = "toDateTime('2024-03-06 12:00:00')"


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(exprs=st.lists(_ch_expr(2), min_size=1, max_size=3))
def test_dialect_translation_always_analyzable(spark, exprs):
    from clickhouse_observability_spark.functions.ch_dialect import (
        ChDialectError,
        translate,
    )

    from pyspark.errors.exceptions.captured import (
        AnalysisException,
        ParseException,
    )

    sql = "SELECT " + ", ".join(
        f"{e} AS c{i}" for i, e in enumerate(exprs))
    try:
        out = translate(sql)
    except ChDialectError:
        return  # honest rejection is a pass
    try:
        spark.sql(out).schema
    except ParseException as exc:
        # the contract under test: the translator never emits
        # syntactically broken SQL
        raise AssertionError(f"garbled translation: {out!r}") from exc
    except AnalysisException:
        # a type-incoherent GENERATED input (e.g. multiIf mixing INT
        # and TIMESTAMP branches) fails resolution in ClickHouse too;
        # that is the input's fault, not a translation defect
        pass
