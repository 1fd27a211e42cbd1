"""ETL golden tests (SURVEY §5.2): exact 8-table contents for the fixture
dump, plus end-to-end write with the errorifexists guard and the SQL-body
codec function."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from wd2sql_spark.etl.pipeline import parse_entities, read_dump, transform, wd2spark
from wd2sql_spark.functions.ids import register_sql_function

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "wd_dump.ndjson")


@pytest.fixture(scope="module")
def tables(spark):
    return transform(parse_entities(read_dump(spark, FIXTURE)))


def rows(df):
    return {tuple(r) for r in df.collect()}


def test_meta_golden(tables):
    assert rows(tables["meta"]) == {
            (1, "universe", "totality of everything"),
            (2, None, None),
            (5, "strings", None),
            (6, "texts", None),
            (7, "places", None),
            (8, "bare quantity", None),
            (9, "times", None),
            (10, "unknowns", None),
            (11, "ranked", None),
            (1000000031, "instance of", None),
            (2000000099, "run", None),
    }


def test_string_golden_and_deprecated_drop(tables):
    got = rows(tables["string"])
    assert (5, 1000000018, "you should not see me") not in got  # deprecated
    assert (6, 1000001476, "Don Quixote") in got  # language discarded
    assert (6, 1000000020, "Hello") in got  # multilingual en-pick
    assert len(got) == 12


def test_entity_golden_form_sense_math(tables):
    assert rows(tables["entity"]) == {
            (1, 1000000031, 42),
            (2000000099, 1000005972, 202000000099),
            (2000000099, 1000005973, 112000000099),
    }


def test_time_overflow_keeps_raw(tables):
    got = rows(tables["time"])
    assert (9, 1000000585, None, 3, "-13798000000-00-00T00:00:00Z") in got
    assert (1, 1000000580, dt.datetime(1995, 1, 1), 11, "+1995-01-01T00:00:00Z") in got


def test_presence_tables_and_deprecated_novalue(tables):
    none_rows = rows(tables["none"])
    assert (6, 1000000021) in none_rows  # multilingual without English
    assert (1000000031, 1000000031) in none_rows  # novalue
    assert (10, 1000000041) not in none_rows  # deprecated novalue dropped
    assert rows(tables["unknown"]) == {(10, 1000000040)}


def test_quarantine_never_aborts(spark, tables):
    q = list(rows(tables["quarantine"]))
    assert len(q) == 1 and q[0][1] == "corrupt_json"

    # Framing edge cases. A line is parsed as read, trailing comma and all;
    # a quarantined line is reported with that comma stripped, and a line
    # that is blank once stripped holds no entity, so it is a bad id.
    from wd2sql_spark.etl.pipeline import unified_rows

    lines = [
        '{"id": "Q1"},',
        '{"id": "Q2"} ,  ',
        '{"id": "Q3"}, x',
        ",",
        " , ",
        "\t,",
        "\x0c,",
        ",,",
        "[,",
        "not json,",
        '{"id": "Q9", "labels":,',
        '{"id": "X5"},',
        "{}",
    ]
    want = {
        ("", "bad_id"),
        (" ", "bad_id"),
        ("\t", "bad_id"),
        ("\x0c", "corrupt_json"),
        (",", "corrupt_json"),
        ("[", "corrupt_json"),
        ("not json", "corrupt_json"),
        ('{"id": "Q9", "labels":', "corrupt_json"),
        ('{"id": "X5"}', "bad_id"),
        ("{}", "bad_id"),
    }
    ents = parse_entities(spark.createDataFrame([(line,) for line in lines], "value string"))
    got = transform(ents)
    assert rows(got["quarantine"]) == want
    assert rows(unified_rows(ents).filter("`table` = 'quarantine'").select("line", "reason")) == want
    assert rows(got["meta"]) == {(1, None, None), (2, None, None), (3, None, None)}


def test_wd2spark_end_to_end_and_guard(spark, tmp_path):
    out = str(tmp_path / "wd_out")
    paths = wd2spark(spark, FIXTURE, out)
    assert set(paths) == {
        "meta", "quarantine", "string", "entity", "coordinates", "quantity", "time", "none", "unknown",
    }
    meta = spark.read.parquet(paths["meta"])
    assert meta.count() == 11
    # The intermediate store is gone: out holds exactly the 9 tables.
    assert sorted(os.listdir(out)) == sorted(paths)
    # errorifexists guard (main.rs:98-104)
    with pytest.raises(Exception, match="already exists|LOCATION_ALREADY_EXISTS"):
        wd2spark(spark, FIXTURE, out)
    # The per-claim plan is gone; asking for it fails before any work.
    with pytest.raises(ValueError, match="staged=False"):
        wd2spark(spark, FIXTURE, str(tmp_path / "unstaged"), staged=False)
    assert not os.path.exists(tmp_path / "unstaged")


def test_sql_codec_function(spark):
    register_sql_function(spark)
    got = spark.sql(
        "SELECT encode_wid('Q42') a, encode_wid('P31') b, encode_wid('L99-F2') c, encode_wid('L99-S1') d"
    ).collect()[0]
    assert tuple(got) == (42, 1000000031, 202000000099, 112000000099)


def test_malformed_payloads_drop_claim_keep_entity(spark, tmp_path):
    """Per-claim payload tolerance: a claim whose typed payload fails
    validation (bad coordinate JSON, non-numeric amount, unencodable
    entity id, time without precision or with one out of INT range,
    unrecognized datavalue type, monolingualtext without text) is
    DROPPED — it must neither abort the job nor emit a NULL into a NOT
    NULL output column — while the entity's meta row and its VALID
    claims survive. (The reference skips the whole entity on a bad
    claim, value.rs value! -> main.rs:206-215; dropping only the bad
    claim is strictly more tolerant, documented at
    pipeline._REQUIRED.) The SQLite export of the result must succeed,
    proving no constraint-violating row got through."""
    import json

    from wd2sql_spark.etl.pipeline import parse_entities, read_dump, transform, wd2spark
    from wd2sql_spark.sinks.sqlite import export_sqlite

    def claim(dv_type, value, snaktype="value"):
        snak = {"snaktype": snaktype, "property": "P1", "datatype": "x"}
        if snaktype == "value":
            snak["datavalue"] = {"type": dv_type, "value": value}
        return {"mainsnak": snak, "rank": "normal"}

    ent = {
        "id": "Q7000",
        "type": "item",
        "labels": {"en": {"language": "en", "value": "survivor"}},
        "descriptions": {},
        "claims": {
            "P1": [
                claim("string", "keep-me"),                              # valid
                claim("globecoordinate", "not json at all"),             # invalid
                claim("globecoordinate", {"latitude": 1.0}),             # missing fields
                claim("quantity", {"amount": "abc", "unit": "1"}),       # bad amount
                claim("wikibase-entityid", {"id": "Q42abc"}),            # bad target id
                claim("time", {"time": "+2001-01-01T00:00:00Z"}),        # no precision
                claim("time", {"time": "+2001-01-01T00:00:00Z", "precision": 1e20}),  # out of INT range
                claim("mystery-type", {"x": 1}),                         # unknown type
                claim("monolingualtext", {"language": "en"}),            # no text
            ]
        },
    }
    dump = tmp_path / "bad_payloads.ndjson"
    dump.write_text(json.dumps(ent) + "\n")

    tables = transform(parse_entities(read_dump(spark, str(dump))))
    assert [tuple(r) for r in tables["meta"].collect()] == [(7000, "survivor", None)]
    assert [r["string"] for r in tables["string"].collect()] == ["keep-me"]
    for name in ("entity", "coordinates", "quantity", "time", "none", "unknown"):
        assert tables[name].count() == 0, name
    assert tables["quarantine"].count() == 0  # entity itself is well-formed

    # The staged path agrees, and the strict-DDL SQLite export succeeds.
    out = str(tmp_path / "out")
    paths = wd2spark(spark, str(dump), out)
    staged = {n: spark.read.parquet(p) for n, p in paths.items()}
    assert staged["meta"].count() == 1 and staged["string"].count() == 1
    counts = export_sqlite(staged, str(tmp_path / "bad.db"))
    assert counts["meta"] == 1 and counts["string"] == 1 and counts["coordinates"] == 0


def test_store_layout_matches_tables_layout(spark, tmp_path):
    """layout="store" (single write generation) must be row-for-row
    identical to layout="tables" through read_table — the projection +
    rename fully absorbs the layout difference."""
    from wd2sql_spark.etl.pipeline import read_table

    t_out = str(tmp_path / "tables_out")
    s_out = str(tmp_path / "store_out")
    t_paths = wd2spark(spark, FIXTURE, t_out)
    s_paths = wd2spark(spark, FIXTURE, s_out, layout="store")
    assert set(t_paths) == set(s_paths)
    for name in t_paths:
        want = spark.read.parquet(t_paths[name])
        got = read_table(spark, s_out, name)
        assert got.columns == want.columns, name
        key = lambda r: tuple(map(str, r))  # noqa: E731 — None vs datetime sort
        assert sorted(map(tuple, got.collect()), key=key) == sorted(
            map(tuple, want.collect()), key=key
        ), name
    # the store honors the refuse-existing-output guard too
    with pytest.raises(Exception, match="already exists|LOCATION_ALREADY_EXISTS"):
        wd2spark(spark, FIXTURE, s_out, layout="store")


def test_read_table_empty_partition(spark, tmp_path):
    """A table with zero rows has no partition dir in a store-layout
    output; read_table must yield an empty relation with the final
    column names instead of failing."""
    from wd2sql_spark.etl.pipeline import read_table

    out = str(tmp_path / "store_empty")
    wd2spark(spark, FIXTURE, out, layout="store")
    import shutil

    shutil.rmtree(out + "/table=unknown", ignore_errors=True)
    df = read_table(spark, out, "unknown")
    assert df.count() == 0
    assert df.columns == ["id", "property_id"]
    # the empty relation carries the time table's rename too
    shutil.rmtree(out + "/table=time", ignore_errors=True)
    assert read_table(spark, out, "time").columns == ["id", "property_id", "time", "precision", "time_raw"]
