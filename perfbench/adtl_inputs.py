"""Seeded inputs for the adtl workload, and the expected-count oracle.

``write_inputs(shape, seed, out_dir)`` writes the source CSV, the JSON
parser spec and its two JSON schemas.  The same (shape, seed) always gives
byte-identical files.

The source is an F-A/F-B/F-C-style clinical export (see FIXTURES.md): one
row per visit, rows of a subject contiguous, every cell a string.  It maps
to three tables:

- ``subject``      groupBy subject id, lastNotNull, value maps through
                   ``ref`` defs, dates, a unit conversion and combinedType
                   folds;
- ``observation``  oneToMany with a ``name`` discriminator and a oneOf
                   schema; yes/no blocks use the synthesized default ``if``,
                   the oxygen block an explicit numeric ``if``, and the
                   follow-up blocks come from ``for`` expansion;
- ``metadata``     one constant row.

A known share of rows carries schema violations.  ``expected_counts``
derives rows out and valid rows per table from the CSV rows alone, in pure
Python, by re-implementing only the rules that decide those counts:

- subject: one row per distinct ``subjid``.  A subject is invalid when its
  last non-empty ``age`` is above 120, its last non-empty ``outcome`` code
  maps to a value outside the schema enum, or it has no ``dsstdat`` on any
  row (``enrolment_date`` is required).  Every other attribute is valid
  by construction.
- observation: a row emits one observation per block whose condition
  holds; an oxygen observation is invalid when its value is above 100.
"""

from __future__ import annotations

import csv
import json
import random
from dataclasses import dataclass
from pathlib import Path
from typing import Iterable, Iterator

TABLES = ("subject", "observation", "metadata")

YESNO = {"1": True, "2": False}
SEX = {"1": "male", "2": "female", "3": "non_binary"}
OUTCOME = {"1": "discharged", "2": "death", "3": "transfer", "9": "unknown"}
OUTCOME_ENUM = ["discharged", "death", "transfer"]
ETHNIC = {str(i): f"group_{i}" for i in range(1, 9)}
ANTIVIRALS = ["ribavirin", "lopinavir", "remdesivir"]
PAO2 = {"1": "arterial", "2": "venous", "3": "capillary"}
EVENTS = ["admit", "day1", "day2", "discharge"]

AGE_MAX = 120
OXY_MAX = 100


@dataclass(frozen=True)
class Shape:
    """Size of the adtl workload's input."""

    subjects: int  # source rows are 1-4 per subject (2.5 on average)
    yesno: int  # boolean comorbidity attributes (ref "yesno")
    numeric: int  # numeric passthrough attributes
    dates: int  # extra date attributes
    symptoms: int  # yes/no observation blocks
    followup_days: int  # ``for`` expansion of the follow-up block


BULK = Shape(subjects=1000, yesno=3, numeric=2, dates=1, symptoms=3, followup_days=2)


# ---------------------------------------------------------------- columns


def _source_columns(shape: Shape) -> list[str]:
    cols = ["subjid", "redcap", "sex", "age", "dsstdat", "hostdat", "outcome"]
    cols += ["ethnic"] + [f"daily_antiviral_type___{i}" for i in range(1, 4)]
    cols += ["icu_1", "icu_2", "first_admit", "weight_lb"]
    cols += [f"comorb_{i}" for i in range(shape.yesno)]
    cols += [f"vital_{i}" for i in range(shape.numeric)]
    cols += [f"labdt_{i}" for i in range(shape.dates)]
    cols += [f"sym_{i}" for i in range(shape.symptoms)]
    cols += ["oxy_vsorres", "pao2_lbspec"]
    cols += [f"flw_{n}" for n in range(1, shape.followup_days + 1)]
    return cols


def generate_rows(shape: Shape, seed: int) -> Iterator[list[str]]:
    """Source rows in ``_source_columns`` order; deterministic in seed."""
    rng = random.Random(f"adtl:{seed}")
    rand = rng.random
    randint = rng.randint
    for s in range(shape.subjects):
        subjid = f"S{s:06d}"
        # per-subject constants: lastNotNull picks them whatever the order
        age = str(randint(AGE_MAX + 1, AGE_MAX + 40) if rand() < 0.04 else randint(0, 99))
        outcome = "9" if rand() < 0.03 else rng.choice("123")
        sex = rng.choice("123")
        enrolled = rand() >= 0.03
        enrol = f"2022-{randint(1, 12):02d}-{randint(1, 28):02d}"
        for v in range(randint(1, 4)):
            first = v == 0
            row = [
                subjid,
                EVENTS[v],
                sex if rand() < 0.8 else "",
                age if first or rand() < 0.5 else "",
                enrol if enrolled and (first or rand() < 0.3) else "",
                f"2022-{randint(1, 12):02d}-{randint(1, 28):02d}" if rand() < 0.7 else "",
                outcome if v > 0 or rand() < 0.4 else "",
                str(randint(1, 8)) if rand() < 0.6 else "",
            ]
            row += [rng.choice("01") for _ in range(3)]
            row += [rng.choice(("1", "2", "")) for _ in range(2)]
            row.append(f"2021-{randint(1, 12):02d}-{randint(1, 28):02d}" if rand() < 0.5 else "")
            row.append(str(randint(80, 300)) if rand() < 0.5 else "")
            row += [rng.choice(("1", "2", "", "3")) for _ in range(shape.yesno)]
            row += [str(randint(1, 300)) if rand() < 0.7 else "" for _ in range(shape.numeric)]
            row += [
                f"2022-{randint(1, 12):02d}-{randint(1, 28):02d}" if rand() < 0.4 else ""
                for _ in range(shape.dates)
            ]
            row += [rng.choice(("1", "2", "3", "")) for _ in range(shape.symptoms)]
            oxy = rand()
            row.append(
                str(randint(OXY_MAX + 1, OXY_MAX + 30)) if oxy < 0.05
                else "" if oxy < 0.35 else str(randint(0, OXY_MAX))
            )
            row.append(rng.choice(("1", "2", "3", "", "")))
            row += [rng.choice(("0", "1", "2", "")) for _ in range(shape.followup_days)]
            yield row


# ------------------------------------------------------------------- spec


def _subject_rules(shape: Shape) -> dict:
    rules: dict = {
        "subject_id": {"field": "subjid", "description": "subject id"},
        "dataset_id": "perfbench",
        "country_iso3": "GBR",
        "sex_at_birth": {"field": "sex", "values": SEX},
        "age": {"field": "age", "description": "age in years"},
        "enrolment_date": {"field": "dsstdat"},
        "admission_date": {"field": "hostdat"},
        "outcome": {"field": "outcome", "values": OUTCOME},
        "ethnicity": {
            "combinedType": "set",
            "excludeWhen": "none",
            "fields": [{"field": "ethnic", "values": ETHNIC}],
        },
        "antivirals": {
            "combinedType": "set",
            "excludeWhen": "none",
            "fields": [
                {"field": f"daily_antiviral_type___{i + 1}", "values": {"1": name}}
                for i, name in enumerate(ANTIVIRALS)
            ],
        },
        "ever_icu": {
            "combinedType": "any",
            "fields": [{"field": "icu_1", "ref": "yesno"}, {"field": "icu_2", "ref": "yesno"}],
        },
        "first_admission": {
            "combinedType": "min",
            "fields": [{"field": "first_admit"}, {"field": "hostdat"}],
        },
        "weight_kg": {"field": "weight_lb", "source_unit": "lb", "unit": "kg"},
    }
    for i in range(shape.yesno):
        rules[f"comorbidity_{i}"] = {"field": f"comorb_{i}", "ref": "yesno"}
    for i in range(shape.numeric):
        rules[f"vital_{i}"] = {"field": f"vital_{i}"}
    for i in range(shape.dates):
        rules[f"lab_date_{i}"] = {"field": f"labdt_{i}"}
    return rules


def subject_schema(shape: Shape) -> dict:
    props: dict = {
        "subject_id": {"type": "string"},
        "dataset_id": {"type": "string"},
        "country_iso3": {"type": "string", "pattern": "^[A-Z]{3}$"},
        "sex_at_birth": {"enum": list(SEX.values())},
        "age": {"type": "number", "minimum": 0, "maximum": AGE_MAX},
        "enrolment_date": {"type": "string", "format": "date"},
        "admission_date": {"type": "string", "format": "date"},
        "outcome": {"enum": OUTCOME_ENUM},
        "ethnicity": {"type": "array", "items": {"type": "string"}, "uniqueItems": True},
        "antivirals": {"type": "array", "items": {"enum": ANTIVIRALS}},
        "ever_icu": {"type": "boolean"},
        "first_admission": {"type": "string", "format": "date"},
        "weight_kg": {"type": "number", "exclusiveMinimum": 0},
    }
    for i in range(shape.yesno):
        props[f"comorbidity_{i}"] = {"type": "boolean"}
    for i in range(shape.numeric):
        props[f"vital_{i}"] = {"type": "number", "minimum": 0}
    for i in range(shape.dates):
        props[f"lab_date_{i}"] = {"type": "string", "format": "date"}
    return {
        "$schema": "http://json-schema.org/draft-07/schema#",
        "title": "subject",
        "type": "object",
        "properties": props,
        "required": ["subject_id", "dataset_id", "enrolment_date"],
    }


def _symptom_names(shape: Shape) -> list[str]:
    return [f"symptom_{i}" for i in range(shape.symptoms)]


def observation_schema(shape: Shape) -> dict:
    options = [
        {"properties": {"name": {"const": n}}, "required": ["is_present"]}
        for n in _symptom_names(shape) + ["fever_followup"]
    ]
    options.append(
        {
            "properties": {
                "name": {"const": "oxygen_saturation"},
                "value": {"type": "number", "maximum": OXY_MAX},
            },
            "required": ["value"],
        }
    )
    options.append(
        {"properties": {"name": {"const": "pao2_sample_type"}}, "required": ["text"]}
    )
    return {
        "$schema": "http://json-schema.org/draft-07/schema#",
        "title": "observation",
        "type": "object",
        "properties": {
            "subject_id": {"type": "string"},
            "name": {"type": "string"},
            "phase": {"enum": ["admission", "followup"]},
            "date": {"type": "string", "format": "date"},
            "is_present": {"type": "boolean"},
            "value": {"type": "number"},
            "text": {"type": "string"},
        },
        "required": ["subject_id", "name", "phase"],
        "oneOf": options,
    }


def _observation_blocks(shape: Shape) -> list[dict]:
    blocks: list[dict] = [
        {
            "name": name,
            "phase": "admission",
            "is_present": {"field": f"sym_{i}", "ref": "yesno"},
        }
        for i, name in enumerate(_symptom_names(shape))
    ]
    blocks.append(
        {
            "name": "oxygen_saturation",
            "phase": "admission",
            "value": {"field": "oxy_vsorres"},
            "if": {"oxy_vsorres": {">": 0}},
        }
    )
    blocks.append(
        {
            "name": "pao2_sample_type",
            "phase": "admission",
            "text": {"field": "pao2_lbspec", "values": PAO2},
        }
    )
    blocks.append(
        {
            "for": {"n": {"range": [1, shape.followup_days]}},
            "name": "fever_followup",
            "phase": "followup",
            "is_present": {"field": "flw_{n}", "values": {"1": True, "0": False}},
        }
    )
    return blocks


def parser_spec(shape: Shape) -> dict:
    return {
        "adtl": {
            "name": "perfbench",
            "description": "perfbench adtl workload",
            "tables": {
                "subject": {
                    "kind": "groupBy",
                    "groupBy": "subject_id",
                    "aggregation": "lastNotNull",
                    "schema": "subject.schema.json",
                },
                "observation": {
                    "kind": "oneToMany",
                    "discriminator": "name",
                    "schema": "observation.schema.json",
                    "common": {
                        "subject_id": {"field": "subjid"},
                        "date": {"field": "dsstdat"},
                    },
                },
                "metadata": {"kind": "constant"},
            },
            "defs": {"yesno": {"values": YESNO}},
        },
        "subject": _subject_rules(shape),
        "observation": _observation_blocks(shape),
        "metadata": {"dataset": "perfbench", "version": 1},
    }


# ------------------------------------------------------------------ files


@dataclass(frozen=True)
class Inputs:
    spec: Path
    source: Path
    source_rows: int


def write_inputs(shape: Shape, seed: int, out_dir: Path) -> Inputs:
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / "subject.schema.json").write_text(json.dumps(subject_schema(shape), indent=1))
    (out_dir / "observation.schema.json").write_text(
        json.dumps(observation_schema(shape), indent=1)
    )
    spec_path = out_dir / "spec.json"
    spec_path.write_text(json.dumps(parser_spec(shape), indent=1))
    source = out_dir / "source.csv"
    n = 0
    with open(source, "w", newline="") as fp:
        writer = csv.writer(fp, lineterminator="\n")
        writer.writerow(_source_columns(shape))
        for row in generate_rows(shape, seed):
            writer.writerow(row)
            n += 1
    return Inputs(spec=spec_path, source=source, source_rows=n)


# ----------------------------------------------------------------- oracle


def _emitted(shape: Shape, row: dict) -> list[tuple[str, bool]]:
    """(block name, valid) for each observation the row emits."""
    out = []
    for i, name in enumerate(_symptom_names(shape)):
        if row[f"sym_{i}"] in YESNO:
            out.append((name, True))
    oxy = row["oxy_vsorres"]
    if oxy and float(oxy) > 0:
        out.append(("oxygen_saturation", float(oxy) <= OXY_MAX))
    if row["pao2_lbspec"] in PAO2:
        out.append(("pao2_sample_type", True))
    for n in range(1, shape.followup_days + 1):
        if row[f"flw_{n}"] in ("0", "1"):
            out.append(("fever_followup", True))
    return out


def expected_counts(shape: Shape, rows: Iterable[dict]) -> dict:
    """``{"rows": {table: n}, "valid": {table: n}}`` from source row dicts
    (for instance ``csv.DictReader`` over the generated source)."""
    last: dict[str, dict[str, str]] = {}
    obs_rows = obs_valid = 0
    for row in rows:
        state = last.setdefault(row["subjid"], {})
        for field in ("age", "outcome", "dsstdat"):
            if row[field] != "":
                state[field] = row[field]
        for _, ok in _emitted(shape, row):
            obs_rows += 1
            obs_valid += ok
    subj_valid = sum(
        1
        for s in last.values()
        if "dsstdat" in s
        and ("age" not in s or 0 <= float(s["age"]) <= AGE_MAX)
        and ("outcome" not in s or OUTCOME[s["outcome"]] in OUTCOME_ENUM)
    )
    return {
        "rows": {"subject": len(last), "observation": obs_rows, "metadata": 1},
        "valid": {"subject": subj_valid, "observation": obs_valid},
    }


def expected_counts_from_file(shape: Shape, source: Path) -> dict:
    with open(source, newline="") as fp:
        return expected_counts(shape, csv.DictReader(fp))
