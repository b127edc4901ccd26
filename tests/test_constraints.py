"""Columnar constraint engine: keyword semantics on typed columns.

Mirrors the reference's per-keyword runtime checks (SURVEY.md §2.2-2.7)
re-expressed over Spark columns; each test pins the violation set."""

import pytest
from pyspark.sql import functions as F

from json_schema_spark import ConstraintSet, SchemaError, validate


def _violated(spark, rows, schema, columns, **kw):
    df = spark.createDataFrame(rows, schema)
    res = validate(df, ConstraintSet(columns=columns), id_col="id",
                   observe=False, **kw)
    return {(r["id"], r["constraint_id"])
            for r in res.violations().collect()}


# ---- string keywords ------------------------------------------------------

def test_min_max_length_and_nulls_pass(spark):
    rows = [("a", ""), ("b", "xx"), ("c", "xxxxxx"), ("d", None)]
    got = _violated(spark, rows, "id string, s string",
                    {"s": {"minLength": 1, "maxLength": 4}})
    # null passes both (keyword applies to present strings only)
    assert got == {("a", "s.minLength"), ("c", "s.maxLength")}


def test_pattern_is_partial_match(spark):
    # preg_match semantics: unanchored partial match (Validator.php:636)
    rows = [("a", "xxaaxx"), ("b", "bbb")]
    got = _violated(spark, rows, "id string, s string",
                    {"s": {"pattern": "aa"}})
    assert got == {("b", "s.pattern")}


def test_required_vs_type_null(spark):
    rows = [("a", "x"), ("b", None)]
    assert _violated(spark, rows, "id string, s string",
                     {"s": {"required": True}}) == {("b", "s.required")}
    assert _violated(spark, rows, "id string, s string",
                     {"s": {"type": "string"}}) == {("b", "s.type")}
    assert _violated(spark, rows, "id string, s string",
                     {"s": {"type": ["string", "null"]}}) == set()


def test_enum_and_const(spark):
    rows = [("a", "en"), ("b", "xx"), ("c", None)]
    got = _violated(spark, rows, "id string, s string",
                    {"s": {"enum": ["en", "de"]}})
    assert got == {("b", "s.enum")}  # null passes enum (not required)
    got = _violated(spark, rows, "id string, s string",
                    {"s": {"const": "en"}})
    assert got == {("b", "s.const")}


# ---- numeric keywords -----------------------------------------------------

def test_numeric_bounds(spark):
    rows = [("a", 1.0), ("b", 5.0), ("c", 10.0), ("d", None)]
    cols = {"v": {"minimum": 1, "maximum": 10,
                  "exclusiveMinimum": 1, "exclusiveMaximum": 10}}
    got = _violated(spark, rows, "id string, v double", cols)
    assert got == {("a", "v.exclusiveMinimum"), ("c", "v.exclusiveMaximum")}


def test_multiple_of_float_scaling(spark):
    # the 0.0075 % 0.0001 parity case (Validator.php:736-747)
    rows = [("a", 0.0075), ("b", 0.00751), ("c", 4.0)]
    got = _violated(spark, rows, "id string, v double",
                    {"v": {"multipleOf": 0.0001}})
    assert got == {("b", "v.multipleOf")}
    got = _violated(spark, rows, "id string, v double",
                    {"v": {"multipleOf": 2}})
    assert got == {("a", "v.multipleOf"), ("b", "v.multipleOf")}


def test_integer_as_float_rule(spark):
    # 1.0 IS an integer (Check.php:33-41)
    rows = [("a", 1.0), ("b", 1.5)]
    got = _violated(spark, rows, "id string, v double",
                    {"v": {"type": "integer"}})
    assert got == {("b", "v.type")}


# ---- array keywords -------------------------------------------------------

def test_array_keywords(spark):
    rows = [("a", [1, 2, 3]), ("b", [1, 1]), ("c", []), ("d", None)]
    got = _violated(spark, rows, "id string, a array<int>",
                    {"a": {"minItems": 1, "uniqueItems": True}})
    assert got == {("b", "a.uniqueItems"), ("c", "a.minItems")}


def test_items_and_contains(spark):
    rows = [("a", [1, 2]), ("b", [1, 99])]
    got = _violated(spark, rows, "id string, a array<int>",
                    {"a": {"items": {"maximum": 10}}})
    assert got == {("b", "a.items")}
    got = _violated(spark, rows, "id string, a array<int>",
                    {"a": {"contains": {"minimum": 50}}})
    assert got == {("a", "a.contains")}


def test_tuple_items(spark):
    rows = [("a", ["x", "1"]), ("b", ["toolong", "1"])]
    got = _violated(spark, rows, "id string, a array<string>",
                    {"a": {"items": [{"maxLength": 3}, {"maxLength": 3}]}})
    assert got == {("b", "a.items")}


# ---- combinators ----------------------------------------------------------

def test_combinators(spark):
    rows = [("a", 5.0), ("b", 15.0), ("c", 25.0)]
    cols = {"v": {"anyOf": [{"maximum": 10}, {"minimum": 20}]}}
    assert _violated(spark, rows, "id string, v double", cols) == {
        ("b", "v.anyOf")}
    cols = {"v": {"oneOf": [{"maximum": 10}, {"maximum": 30}]}}
    # a passes both → oneOf fails; c passes exactly one
    assert _violated(spark, rows, "id string, v double", cols) == {
        ("a", "v.oneOf")}
    cols = {"v": {"not": {"minimum": 20}}}
    assert _violated(spark, rows, "id string, v double", cols) == {
        ("c", "v.not")}
    cols = {"v": {"allOf": [{"minimum": 0}, {"maximum": 20}]}}
    assert _violated(spark, rows, "id string, v double", cols) == {
        ("c", "v.allOf")}


def test_if_then_else(spark):
    rows = [("a", 5.0), ("b", 15.0)]
    cols = {"v": {"if": {"minimum": 10}, "then": {"maximum": 12},
                  "else": {"maximum": 4}}}
    # a: if fails → else(max 4) → 5 > 4 fails; b: if passes → then → 15>12
    assert _violated(spark, rows, "id string, v double", cols) == {
        ("a", "v.if"), ("b", "v.if")}


def test_dependencies_list_form(spark):
    rows = [("a", "x", "y"), ("b", "x", None), ("c", None, None)]
    cols = {"p": {"dependencies": ["q"]}}
    got = _violated(spark, rows, "id string, p string, q string", cols)
    assert got == {("b", "p.dependencies")}


# ---- struct / map columns -------------------------------------------------

def test_struct_properties(spark):
    df = spark.createDataFrame(
        [("a", {"name": "ok", "age": 5}), ("b", {"name": "waytoolong", "age": 5})],
        "id string, o struct<name:string, age:int>")
    res = validate(df, ConstraintSet(columns={
        "o": {"properties": {"name": {"maxLength": 5}},
              "requiredProperties": ["name", "age"]}}),
        id_col="id", observe=False)
    got = {(r["id"], r["constraint_id"]) for r in res.violations().collect()}
    assert got == {("b", "o.properties")}


def test_map_property_keywords(spark):
    df = spark.createDataFrame(
        [("a", {"k1": "v"}), ("b", {"k1": "v", "bad key": "v", "k3": "v"})],
        "id string, m map<string,string>")
    res = validate(df, ConstraintSet(columns={
        "m": {"maxProperties": 2, "propertyNames": {"pattern": "^k[0-9]$"}}}),
        id_col="id", observe=False)
    got = {(r["id"], r["constraint_id"]) for r in res.violations().collect()}
    assert got == {("b", "m.maxProperties"), ("b", "m.propertyNames")}


# ---- schema-compile errors (the schema-only fixture analog) ---------------

def test_schema_errors():
    with pytest.raises(SchemaError):
        ConstraintSet(columns={"s": {"minLength": -1}})
    with pytest.raises(SchemaError):
        ConstraintSet(columns={"s": {"minLength": 5, "maxLength": 2}})
    with pytest.raises(SchemaError):
        ConstraintSet(columns={"s": {"type": "unknowntype"}})
    with pytest.raises(SchemaError):
        ConstraintSet(columns={"s": {"nosuchkeyword": 1}})
    with pytest.raises(SchemaError):
        ConstraintSet(columns={"s": {"enum": []}})
    with pytest.raises(SchemaError):
        ConstraintSet(columns={"v": {"minimum": 10, "maximum": 1}})


# ---- defaults -------------------------------------------------------------

def test_apply_defaults(spark):
    rows = [("a", None), ("b", "x")]
    df = spark.createDataFrame(rows, "id string, s string")
    cset = ConstraintSet(columns={"s": {"default": "dflt", "minLength": 1}})
    res = validate(df, cset, id_col="id", observe=False)
    vals = {r["id"]: r["s"] for r in res.valid_rows().collect()}
    assert vals == {"a": "dflt", "b": "x"}


# ---- format smoke (full parity suite lives with the fixture port) ---------

def test_formats_basic(spark):
    rows = [("a", "2020-01-01"), ("b", "2020-13-01"), ("c", None)]
    got = _violated(spark, rows, "id string, s string",
                    {"s": {"format": "date"}})
    assert got == {("b", "s.format")}


def _uri_by_components(col):
    """The component-wise `format: uri` check RX_URI replaced: scheme,
    authority, host, path, fragment and the opaque form pulled out and
    checked one regex at a time. Every component is anchored at \\z, the
    rule RX_URI follows; the engine's component regexes end in Java's `$`,
    which also matches before a final line terminator."""
    from json_schema_spark.constraints import formats as FX

    def z(rx):
        return rx[:-1] + r"\z"

    scheme = r"^[A-Za-z][A-Za-z0-9+.\-]*"
    is_hier = col.rlike(scheme + "://")
    authority = F.regexp_extract(col, scheme + r"://([^/?#]*)", 1)
    host = F.regexp_replace(F.regexp_replace(
        authority, r"^[^@\[\]]*@", ""), r":[0-9]*\z", "")
    path = F.regexp_extract(col, scheme + r"://[^/?#]*([^?#]*)", 1)
    frag = F.regexp_extract(col, r"(?s)#(.*)\z", 1)
    unbracketed = F.regexp_replace(host, r"^\[([^\]]+)\]\z", "$1")
    host_ok = ((host == "") | host.rlike(z(FX.RX_HOSTNAME))
               | unbracketed.rlike(z(FX.RX_IPV6)))
    path_ok = (path == "") | path.rlike(z(FX.RX_PATH_CHARS))
    frag_ok = (frag == "") | frag.rlike(z(FX.RX_PATH_CHARS))
    opaque = F.regexp_replace(col, FX.RX_URI_SCHEME, "")
    return col.rlike(FX.RX_URI_SCHEME) & (
        (is_hier & F.coalesce(host_ok & path_ok & frag_ok, F.lit(False)))
        | (~is_hier & F.coalesce(opaque.rlike(z(FX.RX_PATH_CHARS)),
                                 F.lit(False))))


_LINE_TERMINATORS = ["\n", "\r", "\r\n", "\u0085", "\u2028", "\u2029"]


def _adversarial_url(rng):
    if rng.random() < 0.2:
        u = rng.choice(["mailto", "urn", "a+b.c-d", "1x", ""]) + ":" + \
            rng.choice(["", "x", "a@b", "/x", "%2", "%2f", "a b", "//"])
    else:
        u = (rng.choice(["http", "HTTPS", "a+b.c-d", "h_t", ""]) + "://"
             + rng.choice(["", "", "user@", "u:p@", "a@b@", "[x@"])
             + rng.choice(["example.com", "EX.org", "-bad.com", "a_b.com",
                           "x" * 64 + ".com", "1.2.3.4", "", "[", "[]",
                           "[::1]", "::1", "1::", "::", "2001:db8::a",
                           "[::ffff:1.2.3.4]", "::ffff:1.2.3.4",
                           "[fe80::1%eth0]", "1:2:3:4:5:6:7:8", "a.b."])
             + rng.choice(["", "", ":", ":80", ":8a", "::80"])
             + rng.choice(["", "/", "/a/b", "/%41%4a", "/%4", "/%zz",
                           "/a b", "/\u00e9", "/a:b@c", "//x"])
             + rng.choice(["", "", "?", "?q=1", "?a b"])
             + rng.choice(["", "", "#", "#f", "#a#b", "#%20", "#\u00e9"]))
    for _ in range(rng.choice([0, 0, 1, 1, 2, 3])):
        i = rng.randrange(len(u) + 1)
        u = u[:i] + rng.choice(_LINE_TERMINATORS) + u[i:]
    return u


def test_uri_regex_matches_component_checks(spark):
    """RX_URI gives the component-wise check's verdict on seeded
    adversarial urls: userinfo, ports, bracketed and bare IPv6, opaque
    forms, % escapes and line terminators anywhere."""
    import random

    from json_schema_spark.constraints.formats import RX_URI

    rng = random.Random(20261017)
    urls = sorted({_adversarial_url(rng) for _ in range(6000)})
    urls += ["http://h\n/", "http://h\r:80/", "http://h:80\n",
             "http://[::1\n]", "http://[::1]\n", "http://::1\n",
             "http://1::\u2028/p", "http://h/p\n", "http://u\n@h/",
             "http://h/?q\n", "http://h/#f\r\n", "mailto:a\u0085"]
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    rows = df.select("u", F.col("u").rlike(RX_URI).alias("one"),
                     _uri_by_components(F.col("u")).alias("parts")).collect()
    diff = [(r["u"], r["one"]) for r in rows if r["one"] != r["parts"]]
    assert diff == []
    assert 0 < sum(r["one"] for r in rows) < len(rows)


def test_uri_rejects_line_terminators_in_checked_components(spark):
    """A line terminator in the host, port, path, fragment or opaque part
    fails `format: uri`, final or not; userinfo and query are not checked.
    The fragment is everything after the first '#', so a terminator inside
    it does not hide the characters after it."""
    bad = ["https://example.com/a#\n\u00e9", "https://example.com/#x\ny z",
           "https://example.com/#ok\n", "https://example.com/a\n",
           "https://example.com\r\n", "https://example.com:80\n",
           "mailto:a\u2028"]
    good = ["https://example.com/#ok", "https://example.com/?q\n",
            "https://u\n@example.com/"]
    got = _violated(spark, [(u, u) for u in bad + good],
                    "id string, s string", {"s": {"format": "uri"}})
    assert got == {(u, "s.format") for u in bad}


def test_unknown_format_is_schema_error(spark):
    df = spark.createDataFrame([("a", "x")], "id string, s string")
    with pytest.raises(SchemaError):
        validate(df, ConstraintSet(columns={"s": {"format": "nope"}}),
                 id_col="id", observe=False)


def test_observe_metrics(spark):
    df = spark.createDataFrame([("a", ""), ("b", "ok")], "id string, s string")
    res = validate(df, ConstraintSet(columns={"s": {"minLength": 1}}),
                   id_col="id")
    res.annotated.count()  # any action materializes the observation
    m = res.metrics()
    assert m["rows_total"] == 2
    assert m["rows_failed"] == 1
    assert m["violations_total"] == 1


def test_columnar_additional_items(spark):
    """additionalItems interplay with tuple-form items, columnar path:
    False forbids extras; a schema constrains each extra element."""
    from json_schema_spark import ConstraintSet, validate

    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["a", "b", "c"]), (3, ["a", "b", "xyz"]),
         (4, None)],
        "id long, arr array<string>")
    viol_false = validate(
        df, ConstraintSet(columns={
            "arr": {"items": [{}, {}], "additionalItems": False}}),
        id_col="id", observe=False).violations().collect()
    assert sorted(v["id"] for v in viol_false) == ["2", "3"]

    viol_schema = validate(
        df, ConstraintSet(columns={
            "arr": {"items": [{}, {}],
                    "additionalItems": {"minLength": 3}}}),
        id_col="id", observe=False).violations().collect()
    assert [v["id"] for v in viol_schema] == ["2"]

    # additionalItems alongside single-schema items constrains nothing
    none_v = validate(
        df, ConstraintSet(columns={
            "arr": {"items": {"minLength": 1},
                    "additionalItems": False}}),
        id_col="id", observe=False).violations().collect()
    assert none_v == []


def test_columnar_draft4_boolean_exclusive_form(spark):
    """{"minimum": 5, "exclusiveMinimum": true} (draft-4 boolean form)
    must compile to a strict bound — and the bare flag without a sibling
    bound constrains nothing."""
    from json_schema_spark import ConstraintSet, validate

    df = spark.createDataFrame([(1, 4), (2, 5), (3, 6)],
                               "id long, n long")
    viol = validate(
        df, ConstraintSet(columns={
            "n": {"minimum": 5, "exclusiveMinimum": True}}),
        id_col="id", observe=False).violations().collect()
    assert sorted(v["id"] for v in viol) == ["1", "2"]

    viol_false = validate(
        df, ConstraintSet(columns={
            "n": {"maximum": 5, "exclusiveMaximum": False}}),
        id_col="id", observe=False).violations().collect()
    assert sorted(v["id"] for v in viol_false) == ["3"]

    none_v = validate(
        df, ConstraintSet(columns={"n": {"exclusiveMinimum": True}}),
        id_col="id", observe=False).violations().collect()
    assert none_v == []
