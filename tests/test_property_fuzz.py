"""Property-based tests (hypothesis) for the string-processing layers.

The readonly classifier and the dialect translator take ARBITRARY user
strings — exactly where hand-written cases miss corners. Invariants:

  1. readonly NEVER admits a statement whose first effective keyword is a
     write, however it's wrapped in comments/whitespace/case;
  2. readonly admission is stable under comment/whitespace decoration;
  3. dialect translation of a generated ClickHouse expression tree always
     yields SQL that Spark parses and executes, with the expected row count;
  4. translation is idempotent-safe on plain Spark SQL (no mangling of
     queries that contain no ClickHouse constructs).
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings, strategies as st

from mcp_clickhouse_spark.dialect import translate
from mcp_clickhouse_spark.readonly import ReadOnlyViolation, check_read_only

WRITE_KEYWORDS = ["INSERT", "UPDATE", "DELETE", "DROP", "CREATE", "ALTER",
                  "TRUNCATE", "MERGE", "GRANT", "SET", "CACHE"]

decorations = st.lists(
    st.sampled_from(["  ", "\n", "\t", "-- comment\n", "/* block */ "]),
    max_size=4,
)


@given(kw=st.sampled_from(WRITE_KEYWORDS), deco=decorations,
       tail=st.text(alphabet="abcdefgh ()1,*=", max_size=30))
@settings(max_examples=200, deadline=None)
def test_writes_always_rejected(kw, deco, tail):
    sql = "".join(deco) + kw + " " + tail
    with pytest.raises(ReadOnlyViolation):
        check_read_only(sql)


@given(deco=decorations, tail=st.text(alphabet="abcdefgh_ ,.*", max_size=30))
@settings(max_examples=200, deadline=None)
def test_select_decoration_stable(deco, tail):
    base = "SELECT 1 AS x FROM t" + (" WHERE " + tail if tail.strip() else "")
    check_read_only(base)  # must not raise
    check_read_only("".join(deco) + base)


@given(payload=st.text(alphabet="abc;DROP TABLE x'\"-/*\\", max_size=40),
       verb=st.sampled_from(WRITE_KEYWORDS))
@settings(max_examples=200, deadline=None)
def test_string_literals_never_trigger(payload, verb):
    # anything inside a correctly-escaped string literal is data, not SQL —
    # and the literal must end where its escapes say, so a write keyword in
    # the next literal stays data too
    lit = payload.replace("\\", "\\\\").replace("'", "\\'")
    check_read_only(f"SELECT '{lit}' AS s, '{verb}' AS v")


# --- dialect expression-tree fuzz ------------------------------------------

scalar_exprs = st.recursive(
    st.sampled_from(["n_nationkey", "1", "2", "n_regionkey"]),
    lambda inner: st.one_of(
        st.tuples(st.sampled_from(["abs", "toString", "toInt64", "toUInt32"]), inner).map(
            lambda t: f"{t[0]}({t[1]})"
        ),
        st.tuples(inner, inner).map(lambda t: f"if({t[0]} > {t[1]}, {t[0]}, {t[1]})"),
        st.tuples(inner, inner).map(lambda t: f"intDiv({t[0]}, ({t[1]}) + 1)"),
        st.tuples(inner, inner, inner).map(
            lambda t: f"multiIf({t[0]} > 0, {t[1]}, {t[2]})"
        ),
        inner.map(lambda x: f"arraySum([{x}, {x}])"),
        # round-6 additions (the arraySum DOUBLE-accumulator crash proved
        # this grammar finds bugs curated tests miss): the rest of the
        # integer-valued array-fold family, composed folds, and date
        # functions over literal/column day arithmetic.  Float-valued
        # members (arrayAvg/arrayProduct) are excluded on purpose — CH
        # itself throws on toInt64('1.5'), so their toString compositions
        # are legitimately non-executable.
        inner.map(lambda x: f"arrayReduce('sum', [{x}, 1])"),
        inner.map(lambda x: f"arraySum(arrayCumSum([{x}, {x}]))"),
        inner.map(lambda x: f"arrayFirst(y -> y >= 0, [{x}, 0])"),
        inner.map(lambda x: f"toDayOfMonth(addDays(toDate('2024-01-01'), abs({x}) % 365))"),
        inner.map(lambda x: f"toYearWeek(addDays(toDate('2024-01-01'), abs({x}) % 365))"),
        inner.map(
            lambda x: f"dateDiff('day', toDate('2024-01-01'),"
            f" addDays(toDate('2024-01-01'), abs({x}) % 365))"
        ),
    ),
    max_leaves=6,
)


@given(val=scalar_exprs, cond=scalar_exprs)
@settings(max_examples=15, deadline=None)
def test_translated_combinators_execute(spark, nation_view, val, cond):
    """Aggregate-combinator forms (-If, -Array) over generated value and
    condition expressions must translate to executable single-row SQL."""
    sql = (
        f"SELECT sumIf({val}, ({cond}) > 2) AS a,"
        f" countIf(({cond}) % 2 = 0) AS b,"
        f" avgIf(n_nationkey, ({val}) >= 0) AS c,"
        f" sumArray([{val}, 1]) AS d,"
        f" countArray([{val}, {cond}]) AS e"
        f" FROM nation"
    )
    out = translate(sql)
    rows = spark.sql(out).collect()
    assert len(rows) == 1 and rows[0]["e"] == 50  # 2 elems × 25 rows


@given(expr=scalar_exprs)
@settings(max_examples=25, deadline=None)
def test_translated_expressions_execute(spark, nation_view, expr):
    sql = f"SELECT {expr} AS v FROM nation"
    out = translate(sql)
    rows = spark.sql(out).collect()
    assert len(rows) == 25  # one per nation row — translation never drops rows


@pytest.fixture(scope="module")
def nation_view(spark, sf_dir):
    from mcp_clickhouse_spark.session import read_table

    read_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return "nation"


@given(
    cols=st.lists(st.sampled_from(["n_nationkey", "n_name", "n_regionkey"]),
                  min_size=1, max_size=3, unique=True)
)
@settings(max_examples=50, deadline=None)
def test_plain_sql_untouched(cols):
    sql = f"SELECT {', '.join(cols)} FROM nation WHERE n_nationkey > 3"
    assert translate(sql) == sql


def test_every_mapped_name_never_swallowed_or_mangled(spark):
    """Exhaustive arity fuzz over EVERY dialect-mapped function name: for
    any argument count, translation must either produce SQL that PARSES or
    raise a guided ValueError — never silently swallow the call (the
    plain-form quantile bug), emit unparseable SQL (the groupArray(n)(x)
    bug), or leak a raw IndexError."""
    from mcp_clickhouse_spark.dialect import (
        NAME_MAP,
        PARAMETRIC,
        TEMPLATES,
        translate,
    )

    parser = spark._jsparkSession.sessionState().sqlParser()

    def parses(sql: str) -> bool:
        try:
            parser.parsePlan(sql)
            return True
        except Exception:
            return False

    argsets = [["x"], ["x", "'a'"], ["x", "1"], ["x", "y"], ["x", "y", "z"],
               ["x", "1", "2"], ["x", "y", "z", "w"]]
    bad = []
    for fname in sorted(set(NAME_MAP) | set(TEMPLATES) | set(PARAMETRIC)):
        for args in argsets:
            q = f"SELECT {fname}({', '.join(args)}) FROM t"
            try:
                out = translate(q)
            except ValueError:
                continue  # guided error: acceptable
            except Exception as e:  # noqa: BLE001
                bad.append((fname, args, f"raw {type(e).__name__}"))
                continue
            if "SELECT  FROM" in out:
                bad.append((fname, args, "swallowed"))
            elif not parses(out):
                bad.append((fname, args, "unparseable: " + out[:60]))
        # parametric double-call form
        try:
            out = translate(f"SELECT {fname}(0.5)(x, y) FROM t")
            if "SELECT  FROM" in out:
                bad.append((fname, "param", "swallowed"))
            elif fname.lower() in PARAMETRIC and not parses(out):
                bad.append((fname, "param", "unparseable"))
        except ValueError:
            pass
        except Exception as e:  # noqa: BLE001
            bad.append((fname, "param", f"raw {type(e).__name__}"))
    assert not bad, bad[:10]


# --- clause-rewriter fuzz (round 6: ASOF/ANY/QUALIFY are string surgery —
# exactly where generated inputs find splice bugs like the chained-join
# boundary miss) -------------------------------------------------------------

_ws = st.sampled_from([" ", "  ", "\n", "\t "])
_alias = st.sampled_from(["e", "lhs", "t1", "evt"])
_ralias = st.sampled_from(["s", "rhs", "t2", "sig"])
_jointype = st.sampled_from(["ASOF JOIN", "ASOF LEFT JOIN", "asof left join"])
_ineq = st.sampled_from([">=", ">"])
_anytype = st.sampled_from(
    ["ANY LEFT JOIN", "LEFT ANY JOIN", "any inner join", "INNER ANY JOIN"]
)
_tail = st.sampled_from(["", "WHERE {l}.user_id > 2", "ORDER BY 1 LIMIT 5",
                         "GROUP BY {l}.user_id"])


@given(w=_ws, la=_alias, ra=_ralias, jt=_jointype, op=_ineq, tail=_tail,
       nkeys=st.integers(min_value=1, max_value=2))
@settings(max_examples=40, deadline=None)
def test_asof_rewrite_always_parses(spark, la, ra, w, jt, op, tail, nkeys):
    from hypothesis import assume

    assume(la != ra)
    keys = [f"{la}.user_id = {ra}.user_id"]
    if nkeys == 2:
        keys.append(f"{la}.event_id = {ra}.event_id")
    cond = " AND ".join(keys + [f"{la}.ts {op} {ra}.ts"])
    sel = (
        f"{la}.user_id, count(*) AS n" if tail.startswith("GROUP")
        else "count(*) AS n"
    )
    sql = (
        f"SELECT {sel} FROM events{w}{la}{w}{jt}{w}"
        f"events{w}{ra}{w}ON{w}{cond} {tail.format(l=la)} "
    )
    out = translate(sql)
    parser = spark._jsparkSession.sessionState().sqlParser()
    parser.parsePlan(out)  # must be syntactically valid Spark SQL
    assert not re.search(r"(?i)\bASOF\s+(LEFT\s+|INNER\s+)?JOIN\b", out)


@given(w=_ws, ra=_ralias, at=_anytype, tail=_tail)
@settings(max_examples=30, deadline=None)
def test_any_rewrite_always_parses(spark, w, ra, at, tail):
    sql = (
        f"SELECT count(*) AS n FROM customer{w}c{w}{at}{w}orders{w}{ra}{w}"
        f"ON{w}c.c_custkey = {ra}.o_custkey {tail.format(l='c')} "
    )
    out = translate(sql)
    parser = spark._jsparkSession.sessionState().sqlParser()
    parser.parsePlan(out)
    assert not re.search(r"(?i)\bANY\s+(LEFT|INNER|RIGHT)?\s*JOIN\b", out)


@given(w=_ws, cond=st.sampled_from([
    "rn <= 2", "rn = 1 AND n > 0",
    "row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) = 1",
]), tail=st.sampled_from(["", "ORDER BY 1", "LIMIT 3"]))
@settings(max_examples=20, deadline=None)
def test_qualify_rewrite_always_parses(spark, w, cond, tail):
    sql = (
        f"SELECT o_orderstatus, o_orderkey,{w}row_number() OVER"
        f" (ORDER BY o_orderkey) AS rn, count(*) OVER () AS n"
        f" FROM orders{w}QUALIFY{w}{cond} {tail}"
    )
    out = translate(sql)
    parser = spark._jsparkSession.sessionState().sqlParser()
    parser.parsePlan(out)
    assert not re.search(r"\bQUALIFY\b", out)


# --- escaped-quote literal guards (round 7, verdict #3: clause keywords
# planted INSIDE string literals — with '' doubling and \' backslash
# escapes — must never trigger the rewriters) -------------------------------

_trap_kw = st.sampled_from(
    ["ASOF JOIN x ON a = b", "ANY LEFT JOIN", "QUALIFY rn = 1",
     "LIMIT 3 BY k", "WITH FILL FROM 1 TO 5 STEP 1", "file(x.csv)"]
)
_esc_style = st.sampled_from(["plain", "doubled", "backslash"])


@given(kw=_trap_kw, esc=_esc_style, w=_ws)
@settings(max_examples=60, deadline=None)
def test_clause_keywords_inside_literals_never_rewrite(spark, kw, esc, w):
    if esc == "doubled":
        lit = f"it''s {kw} o''clock"
    elif esc == "backslash":
        lit = f"it\\'s {kw} o\\'clock"
    else:
        lit = f"just {kw} here"
    sql = f"SELECT '{lit}' AS s,{w}o_orderkey FROM orders LIMIT 2"
    out = translate(sql)
    # the literal survives verbatim and the query still parses
    assert f"'{lit}'" in out
    parser = spark._jsparkSession.sessionState().sqlParser()
    parser.parsePlan(out)


@given(esc=_esc_style)
@settings(max_examples=10, deadline=None)
def test_real_clause_after_trap_literal_still_rewrites(spark, esc):
    # a literal containing 'QUALIFY' must not mask the REAL clause after it
    lit = {"plain": "see QUALIFY docs", "doubled": "it''s QUALIFY",
           "backslash": "it\\'s QUALIFY"}[esc]
    sql = (
        f"SELECT o_orderstatus, '{lit}' AS s, row_number() OVER"
        f" (ORDER BY o_orderkey) AS rn FROM orders QUALIFY rn = 1"
    )
    out = translate(sql)
    stripped = re.sub(r"'(?:[^'\\]|\\.|'')*'", "", out)  # drop literals
    assert not re.search(r"(?i)\bQUALIFY\b", stripped)
    assert f"'{lit}'" in out
    parser = spark._jsparkSession.sessionState().sqlParser()
    parser.parsePlan(out)


# --- round-7 rewriters: WITH FILL INTERPOLATE AS-expr + multi ARRAY JOIN ---

_fill_expr = st.sampled_from(
    ["v", "v + 1", "v * 2", "v - 3", "round(v / 2, 1)",
     "CASE WHEN v > 100 THEN v ELSE v + 10 END"]
)


@given(w=_ws, expr=_fill_expr, lo=st.integers(0, 3), hi=st.integers(6, 12))
@settings(max_examples=30, deadline=None)
def test_with_fill_interpolate_expr_always_parses(spark, w, expr, lo, hi):
    sql = (
        f"SELECT x, v FROM src ORDER BY x{w}WITH FILL FROM {lo} TO {hi}"
        f" STEP 1{w}INTERPOLATE{w}(v AS {expr})"
    )
    out = translate(sql)
    parser = spark._jsparkSession.sessionState().sqlParser()
    parser.parsePlan(out)
    assert "INTERPOLATE" not in out.upper()
    assert "__fill_acc" in out or expr == "v"


_aj_exprs = st.lists(
    st.sampled_from(["xs", "ys", "arrayEnumerate(xs)", "arrayMap(q -> q + 1, xs)"]),
    min_size=1, max_size=3, unique=True,
)


@given(w=_ws, exprs=_aj_exprs, left=st.booleans(),
       tail=st.sampled_from(["", "WHERE a0 > 0", "ORDER BY a0 LIMIT 3"]))
@settings(max_examples=40, deadline=None)
def test_array_join_rewrite_always_parses(spark, w, exprs, left, tail):
    items = ", ".join(f"{e} AS a{i}" for i, e in enumerate(exprs))
    kw = "LEFT ARRAY JOIN" if left else "ARRAY JOIN"
    sql = f"SELECT a0 FROM t{w}{kw}{w}{items} {tail}"
    out = translate(sql)
    parser = spark._jsparkSession.sessionState().sqlParser()
    parser.parsePlan(out)
    assert not re.search(r"(?i)\bARRAY\s+JOIN\b", out)
    if len(exprs) > 1:
        assert "arrays_zip" in out


# --- keyword-colliding identifiers (round-7 review regression class) -------

_kw_ident = st.sampled_from(["final", "sample", "qualify", "prewhere"])
_expr_pos = st.sampled_from([
    "SELECT sum({k}) FROM t",
    "SELECT max(t.{k}) AS m FROM (SELECT 1 AS {k} FROM u) t",
    "SELECT a FROM t WHERE x = {k}",
    "SELECT {k} FROM t",
    "SELECT a, {k} FROM t GROUP BY a, {k}",
    # table position (round-7 advisor): a TABLE named after a clause
    # keyword — a real QUALIFY/PREWHERE/SAMPLE clause can never directly
    # follow FROM/JOIN
    "SELECT a FROM {k}",
    "SELECT a FROM u JOIN {k} ON u.x = {k}.x",
    # explicit AS-alias spelled like the keyword (round-7 advisor: the
    # FINAL dropper matched bare AS as the alias and deleted the alias)
    "SELECT m FROM u AS {k}",
])


@given(k=_kw_ident, tpl=_expr_pos)
@settings(max_examples=40, deadline=None)
def test_keyword_named_identifiers_survive(spark, k, tpl):
    """A column that merely SPELLS a clause keyword must survive
    translation in every expression position (the round-7 FINAL-dropper
    regression class)."""
    sql = tpl.format(k=k)
    out = translate(sql)
    assert re.search(rf"(?i)\b{k}\b", out), (sql, out)
    parser = spark._jsparkSession.sessionState().sqlParser()
    parser.parsePlan(out)


# --- round-10 (r9 verdict #6): STRING-LITERAL CONTENTS through the
# round-9 rewriters (reinterpretAs*, normalizeUTF8*, the IPv6 family,
# combinator chains).  These rewriters do string surgery on their
# argument lists, so planted commas/parens/quotes INSIDE literal args are
# exactly where a splice bug would corrupt the translation. ---------------

_r10_payload = st.text(alphabet="abc,() -_%;*=!", max_size=12)
_r10_esc = st.sampled_from(["plain", "doubled", "backslash"])


def _mk_lit(payload: str, esc: str) -> tuple[str, str]:
    """Build (sql_literal_body, semantic_value) for an escape style."""
    if esc == "doubled":
        raw = payload + "'s"
        return raw.replace("'", "''"), raw
    if esc == "backslash":
        raw = payload + "'t"
        return raw.replace("'", "\\'"), raw
    return payload, payload


@given(payload=_r10_payload, esc=_r10_esc)
@settings(max_examples=40, deadline=None)
def test_reinterpret_literal_args_execute_and_match(spark, payload, esc):
    """reinterpretAsUInt16 over an adversarial string literal must parse,
    execute, and return the little-endian value of the first two UTF-8
    bytes — the independent byte-fold oracle computed here in Python."""
    lit, raw = _mk_lit(payload, esc)
    out = translate(f"SELECT reinterpretAsUInt16('{lit}') AS r")
    row = spark.sql(out).collect()[0]
    assert row.r == int.from_bytes(raw.encode("utf-8")[:2], "little")


@given(payload=st.text(alphabet="éàôñ,()' ß",
                       max_size=8),
       form=st.sampled_from(["NFC", "NFD", "NFKC", "NFKD"]))
@settings(max_examples=40, deadline=None)
def test_normalize_literal_args_match_unicodedata(spark, payload, form):
    """normalizeUTF8{form} over literals with combining marks and planted
    quotes/commas must equal unicodedata.normalize exactly."""
    import unicodedata

    from mcp_clickhouse_spark.functions import register_lazy_udfs

    lit = payload.replace("'", "''")
    out = translate(f"SELECT normalizeUTF8{form}('{lit}') AS n")
    register_lazy_udfs(spark, out)
    row = spark.sql(out).collect()[0]
    assert row.n == unicodedata.normalize(form, payload)


@given(junk=st.text(alphabet="xyz,() -!", min_size=1, max_size=10),
       a=st.integers(0, 255), b=st.integers(0, 255))
@settings(max_examples=30, deadline=None)
def test_ipv6_literal_args_execute(spark, junk, a, b):
    """toIPv6OrNull: junk literals (with splitter-hazard chars) → NULL;
    valid IPv4 strings → the IPv4-mapped ::ffff:a.b.c.d bytes (the r9
    advisor contract)."""
    from mcp_clickhouse_spark.functions import register_lazy_udfs

    ip4 = f"{a}.{b}.1.2"
    out = translate(
        f"SELECT toIPv6OrNull('{junk}') AS bad, toIPv6OrNull('{ip4}') AS ok"
    )
    register_lazy_udfs(spark, out)
    row = spark.sql(out).collect()[0]
    assert row.bad is None
    assert row.ok == b"\x00" * 10 + b"\xff\xff" + bytes([a, b, 1, 2])


@given(payload=_r10_payload, esc=_r10_esc)
@settings(max_examples=30, deadline=None)
def test_combinator_literal_args_execute(spark, nation_view, payload, esc):
    """Combinator chains (-If, -ArrayIf) whose CONDITIONS embed hazard
    literals must split arguments correctly: no nation is named the random
    payload, so the sums are exactly the full-table folds."""
    lit, raw = _mk_lit(payload, esc)
    sql = (
        f"SELECT sumIf(n_nationkey, n_name != '{lit}') AS a,"
        f" countArrayIf([n_nationkey, 1], n_name != '{lit}') AS b,"
        f" uniqExactIf(n_nationkey, concat(n_name, '{lit}') != '') AS c"
        f" FROM nation"
    )
    out = translate(sql)
    rows = spark.sql(out).collect()
    assert rows[0].a == 300  # Σ 0..24 — no name collides with the payload
    assert rows[0].b == 50
    assert rows[0].c == 25


_r10_fn_trap = st.sampled_from([
    "reinterpretAsUInt32(a)", "normalizeUTF8NFKC(b)",
    "IPv6StringToNum(c), cutIPv6(d, 0, 1)", "sumArrayIf(x, y)",
    "toIPv6(addr_col)", "countResample(0, 5, 1)(x, k)",
])


@given(fn_trap=_r10_fn_trap, w=_ws)
@settings(max_examples=30, deadline=None)
def test_r9_names_inside_literals_never_rewrite(spark, fn_trap, w):
    """Round-9 function names planted INSIDE string literals are data —
    the translator must leave the literal byte-identical."""
    sql = f"SELECT '{fn_trap}' AS s,{w}n_nationkey FROM nation LIMIT 1"
    out = translate(sql)
    assert f"'{fn_trap}'" in out
    parser = spark._jsparkSession.sessionState().sqlParser()
    parser.parsePlan(out)


# --- round-10 rewriters: the geometry templates split tuple literals and
# the codec/time parsers fold literal contents — same string-surgery
# class as the r9 arms above. ------------------------------------------------

# the +0.0005 offset keeps every generated coordinate strictly
# non-integral, so no point can land exactly on the rectangle boundary —
# previously an assume() filtered those, and hypothesis's shrinker
# (which walks toward 0.0, a filtered value) tripped the
# filter_too_much health check on some seeds
_r10_geo_num = st.floats(min_value=-50, max_value=50, allow_nan=False,
                         allow_infinity=False).map(
                             lambda v: round(v, 3) + 0.0005)


@given(px=_r10_geo_num, py=_r10_geo_num, w=st.integers(1, 20),
       h=st.integers(1, 20))
@settings(max_examples=40, deadline=None)
def test_point_in_polygon_matches_bounds(spark, px, py, w, h):
    """Fuzzed points against an axis-aligned rectangle: the ray-cast
    template must agree with the closed-form bounds test (points on the
    boundary excluded — every coordinate is strictly non-integral by
    construction)."""
    out = translate(
        f"SELECT pointInPolygon(({px}, {py}),"
        f" [(0, 0), ({w}, 0), ({w}, {h}), (0, {h})]) AS r"
    )
    got = spark.sql(out).collect()[0].r
    assert got == int(0 < px < w and 0 < py < h)


@given(n=st.integers(0, 2**40), w=st.integers(1, 6), hsp=st.integers(1, 9))
@settings(max_examples=40, deadline=None)
def test_bin_unbin_tumble_roundtrip(spark, n, w, hsp):
    """bin→unbin must reconstruct the bytes for any value; tumble bounds
    must bracket the input timestamp with the exact width."""
    ts = 1700000000 + n % 10_000_000
    out = translate(
        f"SELECT unbin(bin({n % 256})) AS u,"
        f" tumble(toDateTime({ts}), INTERVAL {w} MINUTE) AS t"
    )
    row = spark.sql(out).collect()[0]
    if 32 <= n % 256 < 127:  # printable ASCII round-trips byte-exactly
        assert row.u == chr(n % 256)
    lo, hi = row.t._1.timestamp(), row.t._2.timestamp()
    assert lo <= ts < hi and hi - lo == w * 60


@given(h=st.integers(0, 99), m=st.integers(0, 99), s=st.integers(0, 999))
@settings(max_examples=30, deadline=None)
def test_parse_time_delta_matches_components(spark, h, m, s):
    out = translate(
        f"SELECT parseTimeDelta('{h} hours {m} minutes {s} seconds') AS r"
    )
    got = spark.sql(out).collect()[0].r
    assert got == h * 3600.0 + m * 60.0 + s


@given(lon=st.floats(min_value=-179.9, max_value=179.9, allow_nan=False),
       lat=st.floats(min_value=-89.9, max_value=89.9, allow_nan=False),
       p=st.integers(1, 12))
@settings(max_examples=30, deadline=None)
def test_geohash_roundtrip_contains_point(spark, lon, lat, p):
    """geohashDecode of geohashEncode must return a cell center within
    the cell's half-width of the input (the codec's defining property)."""
    from mcp_clickhouse_spark.functions import register_lazy_udfs

    out = translate(
        f"SELECT geohashDecode(geohashEncode({lon!r}, {lat!r}, {p})) AS d"
    )
    register_lazy_udfs(spark, out)
    row = spark.sql(out).collect()[0].d
    lon_bits = (5 * p + 1) // 2
    lat_bits = 5 * p // 2
    assert abs(row._1 - lon) <= 360.0 / 2 ** lon_bits / 2 + 1e-9
    assert abs(row._2 - lat) <= 180.0 / 2 ** lat_bits / 2 + 1e-9


# ---- round-14 pre-pass crash-safety -----------------------------------

_r14_atoms = st.sampled_from([
    "a", "1", "'s'", "(1, 2)", "(a, b)", "and(a, b)", "or(1, 0)",
    "not(a)", "xor(a, 1)", "(1, 'x').2", "tuplePlus((1,2),(3,4))",
    "a AND (b)", "x BETWEEN 1 AND (3)", "NOT (a)", "(a, b).1",
    "tupleElement((1, 'q'), 2)", "CASE WHEN a THEN (1, 2).1 ELSE 0 END",
])


@given(st.lists(_r14_atoms, min_size=1, max_size=4),
       st.sampled_from([", ", " + ", " = ", " AND ", " OR "]))
@settings(max_examples=120, deadline=None)
def test_r14_prepasses_never_crash(atoms, sep):
    """The round-14 logical-spelling and tuple-literal pre-passes run on
    EVERY translation — arbitrary compositions of their trigger shapes
    must either translate or raise a guided error, never an internal
    IndexError/RecursionError/AttributeError."""
    sql = "SELECT " + sep.join(atoms) + " AS v FROM t"
    try:
        out = translate(sql)
        assert isinstance(out, str) and out
    except ValueError:
        pass  # DialectError and friends are the contract
