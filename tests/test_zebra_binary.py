"""Zebra binary (.zbin) format: decode the reference's own files,
round-trip the writer, and replay the t70-zebra repl script end to
end against its golden block.

The format is implemented natively in
icicle_spark/sources/zebra_binary.py (wire layout verified against
data/example/sample.zbin, whose logical content is the known
plaintext sample.ztxt)."""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pytest

from icicle_spark.sources.zebra_binary import (
    read_zbin,
    read_zbin_schema,
    snappy_compress,
    snappy_decompress,
    write_zbin,
    zebra_dictionary,
    zebra_fact_rows,
)

REF = "/root/reference"
SAMPLE = f"{REF}/data/example/sample.zbin"

pytestmark = pytest.mark.skipif(
    not os.path.isfile(SAMPLE), reason="reference tree not present"
)


# ------------------------------------------------------------------ snappy


def test_snappy_roundtrip():
    cases = [
        b"",
        b"x",
        b"hello world " * 100,
        bytes(range(256)) * 300,       # forces extended literal lengths
        os.urandom(5000),
    ]
    for b in cases:
        assert snappy_decompress(snappy_compress(b)) == b


def test_snappy_copy_tags():
    # the reference-written schema blob uses real copy tags; decoding
    # it (and matching the sidecar sample.zschema) proves the decoder
    # against a non-literal stream produced by the canonical encoder
    schema = read_zbin_schema(SAMPLE)
    with open(f"{REF}/data/example/sample.zschema") as f:
        sidecar = json.load(f)["schema"]
    assert schema == sidecar


# ----------------------------------------------------- reference vectors


def test_sample_zbin_matches_ztxt():
    """The binary decode reproduces sample.ztxt exactly — entity,
    time, every field, in order."""
    _, per_input = zebra_fact_rows(SAMPLE)
    got = per_input["injury"]

    want = []
    with open(f"{REF}/data/example/sample.ztxt") as f:
        for line in f:
            obj = json.loads(line)
            ent = obj["key"]["entity_id"]
            for fact in obj["value"]["default:injury"]:
                v = fact["value"][0]["some"]
                act = v["action"]
                want.append(
                    {
                        "entity": ent,
                        "time": dt.datetime.fromisoformat(
                            fact["key"]["time"]
                        ),
                        "action": act.get("some")
                        if isinstance(act, dict)
                        else act,
                        "location": v["location"],
                        "severity": float(v["severity"]),
                        "tombstone": False,
                    }
                )
    assert len(got) == len(want) == 12
    for g, w in zip(got, want):
        for k, expect in w.items():
            assert g[k] == expect, (k, g, w)


def test_cli_zbin3_vectors_decode():
    """Both zebra CLI suites' V3 binaries decode and round-trip
    (zebra-nested carries array-valued facts)."""
    for d in ("zebra", "zebra-nested"):
        p = f"{REF}/icicle-compiler/test/cli/{d}/input.zbin3"
        schema, rows = read_zbin(p)
        assert rows, p
        out = f"/tmp/zb_rt_{d}.zbin"
        write_zbin(out, schema, rows)
        s2, r2 = read_zbin(out)
        assert s2 == schema
        assert r2 == rows


def test_zbin_dictionary_derivation():
    dic = zebra_dictionary(read_zbin_schema(SAMPLE))
    assert list(dic.inputs) == ["injury"]
    fields = {
        f.name: f.dataType.simpleString()
        for f in dic.inputs["injury"].value_fields()
    }
    assert fields == {
        "action": "string",       # Option peeled to nullable
        "location": "string",
        "severity": "double",
    }


# -------------------------------------------------------------- round-trip


def test_roundtrip_synthetic_large(tmp_path):
    """>64-row arrays, negative ints, huge ranges, empty strings,
    tombstones, multi-fact times — writer and reader are inverses."""
    rng = np.random.default_rng(7)
    schema = {
        "map": {
            "key": {
                "struct": {
                    "fields": [
                        {"name": "entity_hash", "schema": {"int": {}}},
                        {
                            "name": "entity_id",
                            "schema": {
                                "binary": {"encoding": {"utf8": {}}}
                            },
                        },
                    ]
                }
            },
            "value": {
                "struct": {
                    "fields": [
                        {
                            "name": "default:m",
                            "schema": {
                                "map": {
                                    "key": {
                                        "struct": {
                                            "fields": [
                                                {
                                                    "name": "time",
                                                    "schema": {
                                                        "int": {
                                                            "encoding": {
                                                                "date": {}
                                                            }
                                                        }
                                                    },
                                                },
                                                {
                                                    "name": "factset_id",
                                                    "schema": {
                                                        "reversed": {
                                                            "int": {}
                                                        }
                                                    },
                                                },
                                            ]
                                        }
                                    },
                                    "value": {
                                        "array": {
                                            "element": {
                                                "enum": {
                                                    "variants": [
                                                        {
                                                            "name": "none",
                                                            "schema": {
                                                                "unit": {}
                                                            },
                                                        },
                                                        {
                                                            "name": "some",
                                                            "schema": {
                                                                "struct": {
                                                                    "fields": [
                                                                        {
                                                                            "name": "v",
                                                                            "schema": {
                                                                                "int": {}
                                                                            },
                                                                        },
                                                                        {
                                                                            "name": "w",
                                                                            "schema": {
                                                                                "double": {}
                                                                            },
                                                                        },
                                                                        {
                                                                            "name": "s",
                                                                            "schema": {
                                                                                "binary": {
                                                                                    "encoding": {
                                                                                        "utf8": {}
                                                                                    }
                                                                                }
                                                                            },
                                                                        },
                                                                    ]
                                                                }
                                                            },
                                                        },
                                                    ]
                                                }
                                            }
                                        }
                                    },
                                }
                            },
                        }
                    ]
                }
            },
        }
    }
    rows = []
    base = dt.date(2020, 1, 1)
    for e in range(80):  # > 64 rows at every nesting level
        facts = []
        for i in range(int(rng.integers(1, 4))):
            elems = []
            for j in range(int(rng.integers(1, 3))):
                if rng.random() < 0.2:
                    elems.append(("none", ()))
                else:
                    elems.append(
                        (
                            "some",
                            {
                                "v": int(
                                    rng.integers(-(2**62), 2**62)
                                ),
                                "w": float(rng.normal() * 1e10),
                                "s": ["", "x", "日本語", "a|b"][
                                    int(rng.integers(4))
                                ],
                            },
                        )
                    )
            facts.append(
                (
                    {
                        "time": base + dt.timedelta(days=i),
                        "factset_id": 1,
                    },
                    elems,
                )
            )
        rows.append(
            (
                {"entity_hash": e, "entity_id": f"e{e:04d}"},
                {"default:m": facts},
            )
        )
    p = str(tmp_path / "big.zbin")
    write_zbin(p, schema, rows)
    s2, r2 = read_zbin(p)
    assert s2 == schema
    assert r2 == rows


def test_snappy_compressed_int_branch(tmp_path):
    """Int arrays whose packed bytes arrive snappy-compressed (the
    wire allows either) decode identically."""
    import struct

    from icicle_spark.sources.zebra_binary import _Reader, _Writer

    w = _Writer()
    vals = np.arange(100, dtype=np.int64) * 3 - 50
    w.int_array(vals)
    raw = w.blob()
    nbytes = struct.unpack_from("<I", raw, 0)[0]
    mid = raw[4:12]
    packed = raw[12:12 + nbytes]
    comp = snappy_compress(packed)
    rewired = struct.pack("<I", len(comp)) + mid + comp
    r = _Reader(rewired)
    got = r.int_array(len(vals))
    assert list(got) == list(vals)
    assert r.eof()


# ------------------------------------------------------------ spark + repl


def test_load_zebra_facts_spark(spark):
    from icicle_spark.sources.zebra_binary import load_zebra_facts

    df = load_zebra_facts(spark, SAMPLE, "injury")
    rows = df.orderBy("seq").collect()
    assert len(rows) == 12
    assert rows[0].entity == "homer"
    assert rows[0].location == "arm"
    assert rows[0].action is None
    assert rows[3].action == "ignore"
    assert rows[-1].entity == "moe"
    assert rows[-1].severity == 2.0
    assert df.columns[:2] == ["entity", "time"]
    assert "fields" in df.columns  # implicit record binding


def test_t70_zebra_golden_script(spark):
    """The t70-zebra repl script replays verbatim against its C
    evaluation goldens — :load sample.zbin derives the dictionary from
    the store schema, exactly as the reference REPL reports."""
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from tools.golden_corpus import REPL, run_script

    verified, rejected, mismatches, skips = run_script(
        spark, f"{REPL}/t70-zebra/script"
    )
    assert mismatches == []
    assert skips == []
    assert verified == 5


def test_repl_session_loads_zbin(spark):
    from icicle_spark.repl import ReplSession

    sess = ReplSession(spark)
    out = sess.handle(f":load {SAMPLE}")
    assert any("1 inputs" in line for line in out)
    sess.handle(":set snapshot 2016-02-01")
    df = sess.run_query("from injury ~> newest location")
    got = dict(zip(df["entity"], df.iloc[:, 1]))
    assert got == {"homer": "torso", "marge": "head", "moe": "hair"}


def test_zebra_nested_cli_golden(spark):
    """The zebra-nested CLI suite end-to-end FROM ITS BINARY: the run
    script queries input.zbin3 (Array String facts) through five
    declared features at snapshot 2017-02-01 and diffs expected.psv —
    reproduced here value-for-value (column order in expected.psv is
    feature-name order: latest_couple, length, length_outer,
    newest_strings, sorted)."""
    from icicle_spark.plans import icicle_snapshot, run_plan
    from icicle_spark.source_lang import parse_program
    from icicle_spark.sources.zebra_binary import load_zebra_facts

    d = f"{REF}/icicle-compiler/test/cli/zebra-nested"
    facts = load_zebra_facts(spark, f"{d}/input.zbin3", "nested")

    QS = {
        "newest_strings": "from nested ~> newest value",
        "latest_couple": "from nested ~> latest 5 ~> value",
        "length": "from nested ~> length (newest value)",
        "length_outer":
            "from nested ~> let l = (latest 5 ~> value) ~> length l",
        "sorted": "from nested ~> sort (newest value)",
    }
    got: dict[str, dict] = {}
    for name, q in QS.items():
        plans = parse_program(
            [q], seq_col="seq",
            tombstone_col="tombstone",
        )
        (_, plan), = plans.items()
        out = run_plan(
            facts, plan, snapshot=icicle_snapshot("2017-02-01"),
            strategy="auto",
        ).toPandas()
        for _, r in out.iterrows():
            got.setdefault(r["entity"], {})[name] = _to_py(r["q0"])

    want = {
        "e2": {
            "latest_couple": [[], ["fact1"], ["foasfd"]],
            "length": 1,
            "length_outer": 3,
            "newest_strings": ["foasfd"],
            "sorted": ["foasfd"],
        },
        "homer": {
            "latest_couple": [["ammmm", "bi", "", "c"]],
            "length": 4,
            "length_outer": 1,
            "newest_strings": ["ammmm", "bi", "", "c"],
            "sorted": ["", "ammmm", "bi", "c"],
        },
    }
    assert got == want


def _to_py(v):
    if isinstance(v, np.ndarray):
        return [_to_py(x) for x in v.tolist()]
    if isinstance(v, list):
        return [_to_py(x) for x in v]
    if isinstance(v, np.generic):
        return v.item()
    return v
