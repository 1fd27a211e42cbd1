"""Property-based differential fuzz of the ETL parse + dispatch path.

The golden tests (test_etl.py) pin hand-written fixtures; this drives
``parse_entities`` → ``unified_rows`` over hypothesis-generated dumps —
random mixes of valid entities (every datatype, valid and invalid
payloads, deprecated ranks, bad property ids), malformed lines, framing
noise, and trailing commas — and compares the full output row multiset
against an independent pure-Python model of the reference's semantics
(main.rs:174-238, value.rs:201-261, id.rs:6-24 in /root/reference):

- framing/blank lines dropped, trailing commas stripped;
- unparseable JSON → quarantine(corrupt_json); undecodable entity id →
  quarantine(bad_id); a quarantined entity contributes NOTHING else;
- every kept entity contributes exactly one meta row (English label /
  description or NULL);
- deprecated-rank claims drop BEFORE dispatch; claims under an
  unencodable property id drop entirely;
- each remaining claim lands in exactly one of the 7 typed tables or is
  dropped when its required payload fields are missing/invalid — never
  with a NULL required column.

The parsed ``time`` timestamp column is excluded from comparison (the
model would have to re-implement try_to_timestamp); ``time_raw`` and
``time_precision`` are compared exactly.
"""

from __future__ import annotations

import json
import os
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from tests.id_model import enc
from wd2sql_spark.etl.pipeline import parse_entities, unified_rows

# --------------------------------------------------------------------------
# Pure-Python model of payload fields (id.rs:6-24 via tests/id_model.py)
# --------------------------------------------------------------------------


def _enc_url(u):
    if u is None or u == "1":
        return None
    m = re.search(r"([QPL]\d+(-[FS]\d+)?)$", u)
    if not m or not m.group(1):
        return None
    return enc(m.group(1))


def _try_double(s):
    if s is None or not isinstance(s, str):
        return None
    try:
        return float(s)
    except ValueError:
        return None


# --------------------------------------------------------------------------
# Pure-Python model of dispatch (pipeline._VALUE_TYPES ⇄ value.rs)
# --------------------------------------------------------------------------


def _dispatch(claim):
    """One claim dict → (table, payload-tuple) or None if dropped."""
    if not isinstance(claim, dict):
        return None
    snak = claim.get("mainsnak") or {}
    snaktype = snak.get("snaktype")
    if snaktype == "novalue":
        return ("none", ())
    if snaktype == "somevalue":
        return ("unknown", ())
    dv = snak.get("datavalue") or {}
    dv_type = dv.get("type")
    val = dv.get("value")
    obj = val if isinstance(val, dict) else {}
    if dv_type == "string":
        # Reference semantics (value.rs string arm): a missing value is a
        # failed extraction → the claim is skipped, NOT a NULL string row.
        return ("string", (val,)) if isinstance(val, str) else None
    if dv_type == "monolingualtext":
        t = obj.get("text")
        return ("string", (t,)) if t is not None else None
    if dv_type == "multilingualtext":
        en = (obj.get("texts") or {}).get("en")
        return ("string", (en,)) if en is not None else ("none", ())
    if dv_type == "wikibase-entityid":
        e = enc(obj.get("id"))
        return ("entity", (e,)) if e is not None else None
    if dv_type == "globecoordinate":
        lat, lon, prec = obj.get("latitude"), obj.get("longitude"), obj.get("precision")
        g = _enc_url(obj.get("globe"))
        if lat is not None and lon is not None and prec is not None and g is not None:
            return ("coordinates", (float(lat), float(lon), float(prec), g))
        return None
    if dv_type == "quantity":
        amt = _try_double(obj.get("amount"))
        if amt is None:
            return None
        return (
            "quantity",
            (
                amt,
                _try_double(obj.get("lowerBound")),
                _try_double(obj.get("upperBound")),
                _enc_url(obj.get("unit")),
            ),
        )
    if dv_type == "time":
        # A precision outside the INT range is undecodable: the claim is
        # dropped, not the job aborted.
        t, prec = obj.get("time"), obj.get("precision")
        if t is not None and prec is not None and -(2**31) <= prec < 2**31:
            return ("time", (t, int(prec)))
        return None
    return None


def _expected(lines):
    rows = []
    for raw in lines:
        if raw.strip(" \t\r\n") in ("", "[", "]"):
            continue
        line = re.sub(r",\s*$", "", raw)
        if re.fullmatch(r"[ \t]*", line):
            # blank once its framing comma is stripped: no entity, no id
            rows.append(("quarantine", None, None, (line, "bad_id")))
            continue
        try:
            ent = json.loads(line)
            if not isinstance(ent, dict):
                raise ValueError
        except ValueError:
            rows.append(("quarantine", None, None, (line, "corrupt_json")))
            continue
        eid = enc(ent.get("id"))
        if eid is None:
            rows.append(("quarantine", None, None, (line, "bad_id")))
            continue
        label = ((ent.get("labels") or {}).get("en") or {}).get("value")
        desc = ((ent.get("descriptions") or {}).get("en") or {}).get("value")
        rows.append(("meta", eid, None, (label, desc)))
        for pid_str, statements in (ent.get("claims") or {}).items():
            pid = enc(pid_str)
            if pid is None:
                continue
            for claim in statements or []:
                rank = (claim or {}).get("rank") if isinstance(claim, dict) else None
                if (rank or "normal") == "deprecated":
                    continue
                d = _dispatch(claim)
                if d is not None:
                    rows.append((d[0], eid, pid, d[1]))
    return sorted(rows, key=repr)


def _actual(spark, lines):
    df = unified_rows(parse_entities(spark.createDataFrame([(l,) for l in lines], "value string")))
    out = []
    for r in df.collect():
        t = r["table"]
        if t == "quarantine":
            out.append((t, None, None, (r["line"], r["reason"])))
        elif t == "meta":
            out.append((t, r["id"], None, (r["label"], r["description"])))
        elif t == "string":
            out.append((t, r["id"], r["property_id"], (r["string"],)))
        elif t == "entity":
            out.append((t, r["id"], r["property_id"], (r["entity_id"],)))
        elif t == "coordinates":
            out.append(
                (t, r["id"], r["property_id"],
                 (r["latitude"], r["longitude"], r["precision"], r["globe_id"]))
            )
        elif t == "quantity":
            out.append(
                (t, r["id"], r["property_id"],
                 (r["amount"], r["lower_bound"], r["upper_bound"], r["unit_id"]))
            )
        elif t == "time":
            out.append((t, r["id"], r["property_id"], (r["time_raw"], r["time_precision"])))
        else:  # none / unknown
            out.append((t, r["id"], r["property_id"], ()))
    return sorted(out, key=repr)


# --------------------------------------------------------------------------
# Generators
# --------------------------------------------------------------------------

_TEXT = st.text(alphabet=st.sampled_from(list("abz XYZ0.é中")), max_size=8)
_NUM = st.sampled_from([0.0, 1.5, -2.25, 90.0, 13.0])

_GOOD_ID = st.one_of(
    st.integers(0, 10**12 - 1).map(lambda n: f"Q{n}"),
    st.integers(0, 999).map(lambda n: f"P{n}"),
    st.integers(0, 999).map(lambda n: f"L{n}"),
    st.integers(0, 999).map(lambda n: f"L{n}-F{n % 100}"),
    st.integers(0, 999).map(lambda n: f"L{n}-S{n % 100}"),
)
_BAD_ID = st.sampled_from(["", "X5", "Q42abc", "Q" + "9" * 13, "P1-F2", "L1-F" + "9" * 8, "q1"])
_ANY_ID = st.one_of(_GOOD_ID, _BAD_ID)

_GLOBE = st.sampled_from(
    ["http://www.wikidata.org/entity/Q2", "http://x/Q" + "9" * 13, "1", "garbage", None]
)
_AMOUNT = st.sampled_from(["+42", "-1.5", "1e3", "abc", "+", None])
_TIME = st.sampled_from(["+2001-12-31T00:00:00Z", "-13798000000-00-00T00:00:00Z", None])

_DATAVALUE = st.one_of(
    st.fixed_dictionaries({"type": st.just("string")}, optional={"value": _TEXT}),
    st.fixed_dictionaries(
        {"type": st.just("monolingualtext"),
         "value": st.fixed_dictionaries({}, optional={"text": _TEXT, "language": st.just("en")})}
    ),
    st.fixed_dictionaries(
        {"type": st.just("multilingualtext"),
         "value": st.fixed_dictionaries(
             {"texts": st.dictionaries(st.sampled_from(["en", "de", "fr"]), _TEXT, max_size=2)}
         )}
    ),
    st.fixed_dictionaries(
        {"type": st.just("wikibase-entityid"),
         "value": st.fixed_dictionaries({}, optional={"id": _ANY_ID})}
    ),
    st.fixed_dictionaries(
        {"type": st.just("globecoordinate"),
         "value": st.fixed_dictionaries(
             {}, optional={"latitude": _NUM, "longitude": _NUM, "precision": _NUM, "globe": _GLOBE}
         )}
    ),
    st.fixed_dictionaries(
        {"type": st.just("quantity"),
         "value": st.fixed_dictionaries(
             {}, optional={"amount": _AMOUNT, "lowerBound": _AMOUNT,
                           "upperBound": _AMOUNT, "unit": _GLOBE}
         )}
    ),
    st.fixed_dictionaries(
        {"type": st.just("time"),
         "value": st.fixed_dictionaries(
             {}, optional={"time": _TIME, "precision": st.sampled_from([9, 11, 1e20, -1e20, 2**31])}
         )}
    ),
    st.fixed_dictionaries({"type": st.just("bogus-type"), "value": _TEXT}),
)

_CLAIM = st.fixed_dictionaries(
    {},
    optional={
        "mainsnak": st.fixed_dictionaries(
            {},
            optional={
                "snaktype": st.sampled_from(["value", "novalue", "somevalue", "weird"]),
                "datavalue": _DATAVALUE,
            },
        ),
        "rank": st.sampled_from(["normal", "preferred", "deprecated"]),
    },
)

_LANGMAP = st.dictionaries(
    st.sampled_from(["en", "de"]),
    st.builds(lambda v: {"language": "x", "value": v}, _TEXT),
    max_size=2,
)

_ENTITY = st.fixed_dictionaries(
    {},
    optional={
        "id": _ANY_ID,
        "labels": _LANGMAP,
        "descriptions": _LANGMAP,
        "claims": st.dictionaries(_ANY_ID, st.lists(_CLAIM, max_size=3), max_size=3),
    },
)

_GARBAGE = st.sampled_from(["{oops", "hello world", '{"id": }', "nul", '{"id":"Q1"', "}"])

_LINE = st.one_of(
    _ENTITY.map(json.dumps),
    _ENTITY.map(lambda e: json.dumps(e) + ","),  # dump-style trailing comma
    _GARBAGE,
    st.sampled_from(["[", "]", "", "   ", ",", " , ", "\t,", "\t", " \t ", "\t[\t"]),
)


@settings(max_examples=10, deadline=None)
@given(st.lists(_LINE, min_size=1, max_size=12))
def test_etl_matches_reference_model(spark, lines):
    assert _actual(spark, lines) == _expected(lines)


# --------------------------------------------------------------------------
# Fixed input: one dump holding every hard case at once
# --------------------------------------------------------------------------

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "wd_dump.ndjson")


def _claim(dv_type=None, value=None, snaktype="value", rank="normal"):
    snak = {"snaktype": snaktype, "property": "P1", "datatype": "x"}
    if dv_type is not None:
        snak["datavalue"] = {"type": dv_type, "value": value}
    return {"mainsnak": snak, "rank": rank}


def _mixed_lines():
    """Framing and corrupt lines, undecodable entity and property ids,
    payloads that fail validation, deprecated claims (a deprecated
    novalue among them), a ``null`` statement list, then the golden
    fixture dump."""
    coord = {"latitude": 1.5, "longitude": -2.0, "precision": 0.1, "globe": "http://www.wikidata.org/entity/Q2"}
    qty = {"amount": "+42", "lowerBound": "+41", "upperBound": "x", "unit": "http://www.wikidata.org/entity/Q11573"}
    claims = {
        "P1": [
            _claim("string", "kept"),
            _claim("string", "dead", rank="deprecated"),
            _claim("string"),  # no value: skipped
            _claim(snaktype="novalue", rank="deprecated"),
            _claim(snaktype="novalue"),
            _claim(snaktype="somevalue", rank="preferred"),
        ],
        "P2": [
            _claim("monolingualtext", {"text": "hola", "language": "es"}),
            _claim("monolingualtext", {"language": "es"}),  # no text: skipped
            _claim("multilingualtext", {"texts": {"en": "hi", "de": "hallo"}}),
            _claim("multilingualtext", {"texts": {"de": "hallo"}}),  # → none
        ],
        "P3": [
            _claim("wikibase-entityid", {"entity-type": "form", "id": "L99-F2"}),
            _claim("wikibase-entityid", {"id": "Q42abc"}),  # skipped
            _claim("globecoordinate", coord),
            _claim("globecoordinate", {**coord, "globe": "garbage"}),  # skipped
            _claim("globecoordinate", "not json"),  # skipped
        ],
        "P4": [
            _claim("quantity", qty),
            _claim("quantity", {**qty, "amount": "abc"}),  # skipped
            _claim("time", {"time": "+2001-00-00T00:00:00Z", "precision": 9}),
            _claim("time", {"time": "-13798000000-00-00T00:00:00Z", "precision": 3}),
            _claim("time", {"time": "+2001-01-01T00:00:00Z"}),  # no precision: skipped
            _claim("time", {"time": "+2001-01-01T00:00:00Z", "precision": 1e20}),  # out of INT range: skipped
            _claim("mystery", {"x": 1}),  # unknown type: skipped
        ],
        "Q42abc": [_claim("string", "bad property id")],
        "X5": [_claim(snaktype="novalue")],
        "P5": None,
    }
    entities = [
        {"id": "Q1", "labels": {"en": {"language": "en", "value": "one"}}, "claims": claims},
        {"id": "L7-S1", "descriptions": {"en": {"language": "en", "value": "sense"}}, "claims": {"P1": claims["P1"]}},
        {"id": "Q2"},
        {"id": "Q42abc", "claims": claims},  # bad entity id: quarantined
    ]
    framing = ["", ",", " , ", "\t,", "\t", " \t ", "\t[\t", "not json", '{"id": "Q9", "labels":']
    with open(FIXTURE) as f:
        fixture = f.read().splitlines()
    return ["[", *(json.dumps(e) + "," for e in entities), *framing, "]", *fixture]


def test_mixed_dump_matches_reference_model(spark):
    lines = _mixed_lines()
    want = _expected(lines)
    assert _actual(spark, lines) == want
    # the dump reaches every table and both quarantine reasons
    assert {r[0] for r in want} == {
        "meta", "string", "entity", "coordinates", "quantity", "time", "none", "unknown", "quarantine",
    }
    assert {r[3][1] for r in want if r[0] == "quarantine"} == {"bad_id", "corrupt_json"}
