"""V2 validation: native keyword compilation (incl. recursive draft-07
combinators) and the Arrow-batched jsonschema fallback for the long tail
(SURVEY §7.4.8).  Differential oracle: the installed ``jsonschema``
Draft7Validator over the same dynamic-typed values — the same library
family the reference's fastjsonschema implements."""

import json

import pytest

from adtl_spark.api import Parser


def run_with_schema(spark, tmp_path, schema_props, rows, required=None):
    schema = {
        "$schema": "https://json-schema.org/draft-07/schema",
        "properties": schema_props,
    }
    if required:
        schema["required"] = required
    (tmp_path / "s.json").write_text(json.dumps(schema))
    spec = {
        "adtl": {
            "name": "v",
            "description": "",
            "tables": {"t": {"kind": "oneToOne", "schema": str(tmp_path / "s.json")}},
        },
        "t": {k: {"field": k} for k in schema_props},
    }
    p = Parser(spec, spark=spark).parse_rows(rows)
    return [
        (r["adtl_valid"], r["adtl_error"])
        for r in sorted(p.table("t").collect(), key=lambda r: str(r[2:]))
    ]


def _jsonschema_verdicts(schema_props, rows):
    from jsonschema import Draft7Validator

    out = []
    for row in rows:
        ok = True
        for attr, prop in schema_props.items():
            v = row.get(attr)
            if v in (None, ""):
                continue
            decoded = v
            for cast in (int, float):
                try:
                    decoded = cast(v)
                    break
                except (ValueError, TypeError):
                    continue
            if not Draft7Validator(prop).is_valid(decoded):
                ok = False
        out.append(ok)
    return out


def test_native_combinators_match_jsonschema(spark, tmp_path):
    """anyOf/multipleOf/exclusive bounds compile natively (no UDF) and
    agree with jsonschema on every row."""
    props = {
        "v": {
            "anyOf": [
                {"type": "integer", "multipleOf": 5},
                {"type": "number", "exclusiveMinimum": 90},
            ]
        }
    }
    rows = [{"v": x} for x in ["10", "7", "90.5", "15", "89", "95", "3"]]
    got = run_with_schema(spark, tmp_path, props, rows)
    valid_count = sum(1 for ok, _ in got if ok)
    assert valid_count == sum(_jsonschema_verdicts(props, rows))
    # spot checks: 10 and 15 are multiples of 5; 90.5 and 95 clear the
    # exclusive bound; 7, 89, 3 fail both arms
    assert valid_count == 4


def test_nested_combinators_native(spark, tmp_path):
    """The native keyword set is closed under recursion: not(anyOf(...))
    still compiles to a boolean expression tree."""
    props = {
        "v": {
            "not": {
                "anyOf": [{"const": "bad"}, {"pattern": "^x"}],
            }
        }
    }
    rows = [{"v": s} for s in ["good", "bad", "xray", "fine"]]
    got = run_with_schema(spark, tmp_path, props, rows)
    assert sum(1 for ok, _ in got if ok) == 2


def test_long_tail_fallback_uses_jsonschema(spark, tmp_path):
    """A keyword outside the native set (if/then) routes the property
    through the Arrow-batched jsonschema check instead of being silently
    ignored."""
    pytest.importorskip("jsonschema")
    props = {
        "v": {
            "if": {"pattern": "^A"},
            "then": {"minLength": 3},
        }
    }
    # draft-07 if/then: strings starting with A must be >= 3 chars
    rows = [{"v": s} for s in ["AB", "ABC", "Z", "A"]]
    got = run_with_schema(spark, tmp_path, props, rows)
    verdicts = {r for r in got}
    valid = sum(1 for ok, _ in got if ok)
    assert valid == 2  # "ABC" and "Z" pass; "AB"/"A" fail the then-branch
    assert any(
        err == "data.v must be valid by schema definition"
        for ok, err in got
        if not ok
    )
    assert verdicts  # sanity


def test_validation_counts_and_messages(spark, tmp_path):
    props = {
        "age": {"type": ["integer", "null"], "minimum": 0, "maximum": 120},
    }
    rows = [{"age": "34"}, {"age": "-2"}, {"age": "200"}, {"age": ""}]
    got = run_with_schema(spark, tmp_path, props, rows)
    assert sum(1 for ok, _ in got if ok) == 2  # 34 and empty
    errs = {e for ok, e in got if not ok}
    assert "data.age must be bigger than or equal to 0" in errs
    assert "data.age must be smaller than or equal to 120" in errs


def test_wide_schema_annotates_without_stack_overflow(spark, tmp_path):
    """600 checks (300 integer/minimum properties) stay one flat
    first-violation expression: annotation plans and collects, and the
    first violated property in schema order names the error.  The
    annotation runs on a source-shaped frame directly, since rule
    compilation is not under test here."""
    from adtl_spark.spec import CompiledSpec
    from adtl_spark.validate import annotate_validation

    attrs = [f"c{i:03d}" for i in range(300)]
    schema = {"properties": {a: {"type": "integer", "minimum": 0} for a in attrs}}
    (tmp_path / "s.json").write_text(json.dumps(schema))
    spec = CompiledSpec(
        {
            "adtl": {
                "name": "wide",
                "description": "",
                "tables": {"t": {"kind": "oneToOne", "schema": str(tmp_path / "s.json")}},
            },
            "t": {a: {"field": a} for a in attrs},
        }
    )
    ok = {a: "1" for a in attrs}
    rows = [
        ("ok", ok),
        ("min", {**ok, "c007": "-1", "c250": "x"}),
        ("type", {**ok, "c299": "1.5"}),
    ]
    df = spark.createDataFrame(
        [(key, *(r[a] for a in attrs)) for key, r in rows],
        ", ".join(["key string"] + [f"{a} string" for a in attrs]),
    )
    got = {
        r["key"]: (r["adtl_valid"], r["adtl_error"])
        for r in annotate_validation(spec, "t", df)
        .select("key", "adtl_valid", "adtl_error")
        .collect()
    }
    assert got == {
        "ok": (True, None),
        "min": (False, "data.c007 must be bigger than or equal to 0"),
        "type": (False, "data.c299 must be integer"),
    }
