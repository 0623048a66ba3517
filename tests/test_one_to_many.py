"""oneToMany table semantics: R1-R5 (SURVEY.md §2.6) — block emission,
default-if synthesis, for-expansion, common mappings, schema-driven
fieldnames and coercion."""

import json

from adtl_spark.api import Parser
from adtl_spark.validate import validation_report


def obs_schema(tmp_path, extra_props=None):
    schema = {
        "properties": {
            "name": {"type": "string"},
            "phase": {"type": "string", "enum": ["admission", "followup"]},
            "date": {"type": "string", "format": "date"},
            "is_present": {"type": "boolean"},
            "value": {"type": "number"},
            **(extra_props or {}),
        },
        "required": ["name", "phase"],
        "oneOf": [
            {"properties": {"name": {"const": "cough"}}, "required": ["is_present"]},
            {"properties": {"name": {"const": "oxygen"}}, "required": ["value"]},
        ],
    }
    f = tmp_path / "obs.schema.json"
    f.write_text(json.dumps(schema))
    return str(f)


def test_blocks_with_explicit_if(spark):
    spec = {
        "adtl": {
            "name": "o",
            "description": "",
            "tables": {"obs": {"kind": "oneToMany", "discriminator": "attr"}},
        },
        "obs": [
            {
                "name": "cough",
                "if": {"cough": "1"},
                "is_present": {"field": "cough", "values": {"1": True}},
            },
            {
                "name": "oxygen",
                "if": {"oxy": {">": 0}},
                "value": {"field": "oxy"},
            },
        ],
    }
    rows = [
        {"cough": "1", "oxy": "95"},
        {"cough": "0", "oxy": "0"},
        {"cough": "1", "oxy": ""},
    ]
    p = Parser(spec, spark=spark).parse_rows(rows, skip_validation=True)
    out = list(p.read_table("obs"))
    # row1 emits both blocks (in block order), row2 none, row3 cough only
    assert out == [
        {"name": "cough", "is_present": True},
        {"name": "oxygen", "value": 95},
        {"name": "cough", "is_present": True},
    ]


def test_default_if_synthesis(spark, tmp_path):
    schema_file = obs_schema(tmp_path)
    spec = {
        "adtl": {
            "name": "o",
            "description": "",
            "tables": {
                "obs": {
                    "kind": "oneToMany",
                    "schema": schema_file,
                    "discriminator": "name",
                }
            },
        },
        "obs": [
            {
                "name": "cough",
                "phase": "followup",
                "is_present": {"field": "cough", "values": {"1": True, "0": False}},
            }
        ],
    }
    # default if: any of the mapped source values present ("1" or "0")
    rows = [{"cough": "1"}, {"cough": ""}, {"cough": "0"}, {"cough": "9"}]
    p = Parser(spec, spark=spark).parse_rows(rows, skip_validation=True)
    out = list(p.read_table("obs", typed=False))
    present = [r.get("is_present") for r in out]
    assert present == ["True", "False"]  # rows "" and "9" not emitted


def test_for_expansion_end_to_end(spark, tmp_path):
    schema_file = obs_schema(tmp_path)
    spec = {
        "adtl": {
            "name": "o",
            "description": "",
            "tables": {
                "obs": {
                    "kind": "oneToMany",
                    "schema": schema_file,
                    "discriminator": "name",
                }
            },
        },
        "obs": [
            {
                "for": {"n": {"range": [1, 2]}},
                "name": "cough",
                "phase": "followup",
                "is_present": {
                    "field": "fu{n}_cough",
                    "values": {"1": True, "0": False},
                },
            }
        ],
    }
    rows = [{"fu1_cough": "1", "fu2_cough": "0"}]
    p = Parser(spec, spark=spark).parse_rows(rows, skip_validation=True)
    out = list(p.read_table("obs"))
    assert [r["is_present"] for r in out] == [True, False]


def test_common_mappings_merged(spark):
    spec = {
        "adtl": {
            "name": "o",
            "description": "",
            "tables": {
                "obs": {
                    "kind": "oneToMany",
                    "discriminator": "attr",
                    "common": {"subject_id": {"field": "sid"}},
                }
            },
        },
        "obs": [
            {"name": "cough", "if": {"cough": "1"}},
            {"name": "fever", "if": {"fever": "1"}},
        ],
    }
    rows = [{"sid": "S1", "cough": "1", "fever": "1"}]
    p = Parser(spec, spark=spark).parse_rows(rows, skip_validation=True)
    out = list(p.read_table("obs"))
    assert all(r["subject_id"] == "S1" for r in out)
    assert {r["name"] for r in out} == {"cough", "fever"}


def test_schema_coercion_in_one_to_many(spark, tmp_path):
    schema_file = obs_schema(tmp_path)
    spec = {
        "adtl": {
            "name": "o",
            "description": "",
            "tables": {
                "obs": {
                    "kind": "oneToMany",
                    "schema": schema_file,
                    "discriminator": "name",
                }
            },
        },
        "obs": [
            {
                "name": "oxygen",
                "phase": "admission",
                "value": {"field": "oxy"},
                "if": {"oxy": {"!=": ""}},
            }
        ],
    }
    p = Parser(spec, spark=spark).parse_rows([{"oxy": "87.5"}], skip_validation=True)
    out = list(p.read_table("obs"))
    assert out[0]["value"] == 87.5


def test_validation_annotations(spark, tmp_path):
    schema_file = obs_schema(tmp_path)
    spec = {
        "adtl": {
            "name": "o",
            "description": "",
            "tables": {
                "obs": {
                    "kind": "oneToMany",
                    "schema": schema_file,
                    "discriminator": "name",
                }
            },
        },
        "obs": [
            {
                "name": "cough",
                "phase": {"field": "ph"},  # may produce invalid enum
                "is_present": {"field": "cough", "values": {"1": True, "0": False}},
            }
        ],
    }
    rows = [{"cough": "1", "ph": "followup"}, {"cough": "0", "ph": "somewhere"}]
    p = Parser(spec, spark=spark).parse_rows(rows)
    out = list(p.read_table("obs"))
    assert out[0]["adtl_valid"] is True
    assert out[1]["adtl_valid"] is False
    assert "phase" in out[1]["adtl_error"]


def test_validation_report(spark, tmp_path):
    schema_file = obs_schema(tmp_path)
    spec = {
        "adtl": {
            "name": "o",
            "description": "",
            "tables": {
                "obs": {
                    "kind": "oneToMany",
                    "schema": schema_file,
                    "discriminator": "name",
                }
            },
        },
        "obs": [
            {
                "name": "cough",
                "phase": {"field": "ph"},
                "is_present": {"field": "cough", "values": {"1": True, "0": False}},
            }
        ],
    }
    rows = [{"cough": "1", "ph": "followup"}, {"cough": "0", "ph": "bad"}]
    p = Parser(spec, spark=spark).parse_rows(rows)
    report = p.build_report()
    assert report["total"]["obs"] == 2
    assert report["total_valid"]["obs"] == 1
    assert sum(report["validation_errors"]["obs"].values()) == 1


def _report_parser(spark, tmp_path):
    """groupBy subject table and discriminated oneToMany obs table, both
    validated, plus an unvalidated constant table.  Ties in the error
    counts and an undeclared discriminator value are included."""
    subject_schema = {
        "properties": {
            "subject_id": {"type": "string"},
            "age": {"type": "integer", "minimum": 0, "maximum": 120},
            "sex": {"enum": ["male", "female"]},
        },
        "required": ["subject_id", "sex"],
    }
    (tmp_path / "subject.schema.json").write_text(json.dumps(subject_schema))
    spec = {
        "adtl": {
            "name": "r",
            "description": "",
            "tables": {
                "subject": {
                    "kind": "groupBy",
                    "groupBy": "subject_id",
                    "aggregation": "lastNotNull",
                    "schema": str(tmp_path / "subject.schema.json"),
                },
                "obs": {
                    "kind": "oneToMany",
                    "schema": obs_schema(tmp_path),
                    "discriminator": "name",
                },
                "meta": {"kind": "constant"},
            },
        },
        "subject": {
            "subject_id": {"field": "sid"},
            "age": {"field": "age"},
            "sex": {"field": "sex", "values": {"1": "male", "2": "female", "3": "other"}},
        },
        "obs": [
            {
                "name": "cough",
                "phase": {"field": "ph"},
                "is_present": {"field": "cough", "values": {"1": True, "0": False}},
            },
            {
                "name": "oxygen",
                "phase": "admission",
                "value": {"field": "oxy"},
                "if": {"oxy": {"!=": ""}},
            },
            {"name": "headache", "phase": "admission", "if": {"cough": "1"}},
        ],
        "meta": {"dataset": "report-fixture"},
    }
    return Parser(spec, spark=spark)


REPORT_ROWS = [
    {"sid": "S1", "age": "34", "sex": "1", "cough": "1", "ph": "followup", "oxy": "95"},
    {"sid": "S1", "age": "35", "sex": "1", "cough": "0", "ph": "bad", "oxy": ""},
    {"sid": "S2", "age": "130", "sex": "2", "cough": "0", "ph": "admission", "oxy": "x"},
    {"sid": "S3", "age": "40", "sex": "3", "cough": "1", "ph": "later", "oxy": "97"},
    {"sid": "S4", "age": "-1", "sex": "", "cough": "", "ph": "", "oxy": ""},
]


def _jobs_during(spark, fn) -> int:
    """Spark jobs launched by ``fn()``, counted under a private job group."""
    sc = spark.sparkContext
    group = f"report-jobs-{id(fn)}"
    sc.setJobGroup(group, "report job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_sink_report_equals_validation_report(spark, tmp_path, capsys):
    """After a CSV save the report is counted from the rows the sink
    collected: building, printing and rebuilding it launch no Spark job,
    and it equals the aggregation-built report, error histograms
    included, in spec table order, with plain-int counts."""
    p = _report_parser(spark, tmp_path).parse_rows(REPORT_ROWS)
    p.save(str(tmp_path / "out"), format="csv")

    def report_twice():
        p.build_report()
        p.show_report()
        p.build_report()

    assert _jobs_during(spark, report_twice) == 0
    report = p.build_report()
    assert report == validation_report(p.data)
    assert list(report["total"]) == ["subject", "obs"]
    assert report["total"] == {"subject": 4, "obs": 9}
    assert report["total_valid"] == {"subject": 1, "obs": 4}
    assert sum(report["validation_errors"]["obs"].values()) == 5
    assert (
        report["validation_errors"]["obs"]["No validator found for attribute "
        "'headache' in table 'obs'"] == 2
    )
    json.dumps(report)  # no numpy scalars
    for errors in report["validation_errors"].values():
        counts = list(errors.items())
        assert counts == sorted(counts, key=lambda e: (-e[1], e[0]))
    printed = capsys.readouterr().out
    assert "|subject       \t|1\t|4\t|25.000000% |" in printed
    # the three single subject errors tie, and print in message order
    subject_block = printed.split("## subject")[1].split("##")[0]
    lines = [line for line in subject_block.splitlines() if line.startswith("* ")]
    assert lines == [f"* 1: {m}" for m in sorted(report["validation_errors"]["subject"])]
    assert len(lines) == 3


def test_report_after_parquet_save_one_query_per_table(spark, tmp_path):
    """Without the CSV sink each validated table costs exactly one
    aggregation: no more jobs than one ``groupBy(adtl_error)`` per table,
    and none once the report is cached."""
    p = _report_parser(spark, tmp_path).parse_rows(REPORT_ROWS)
    p.save(str(tmp_path / "out"), format="parquet")
    report_jobs = _jobs_during(spark, p.build_report)
    one_query_each = _jobs_during(
        spark,
        lambda: [
            p.data[t].groupBy("adtl_error").count().collect() for t in ("subject", "obs")
        ],
    )
    assert 0 < report_jobs <= one_query_each
    assert _jobs_during(spark, p.build_report) == 0


def test_new_parse_invalidates_cached_report(spark, tmp_path):
    p = _report_parser(spark, tmp_path).parse_rows(REPORT_ROWS)
    p.save(str(tmp_path / "a"), format="csv")
    assert p.build_report()["total"] == {"subject": 4, "obs": 9}
    p.parse_rows(REPORT_ROWS[:1])
    p.save(str(tmp_path / "b"), format="csv")
    assert p.build_report()["total"] == {"subject": 1, "obs": 3}
