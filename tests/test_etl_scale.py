"""ETL at volume: a generated 120k-entity dump (8 shards, every dispatch
arm, corrupt lines, framing noise) through ``wd2spark`` — exact per-table
row counts derived from the generator, plus a throughput floor.

The golden tests (test_etl.py) pin per-VALUE semantics on ~20 entities;
this test pins BEHAVIOR AT VOLUME: multi-file parallel read, partitioned
staged write, per-record error tolerance at rate (no abort, exact
quarantine count), and that throughput is in a sane range rather than
accidentally quadratic. Reference comparison: wd2sql streams ~35 MB/s on
one 2015 core (README.md:17-19 — 1.5 TB < 12 h); the floor here is
deliberately far below that to stay robust on shared CI hardware."""

from __future__ import annotations

import collections
import json
import os
import re
import time

from wd2sql_spark.etl.pipeline import wd2spark

from wd2sql_spark.etl.synthdump import (
    CORRUPT_EVERY,
    N,
    SHARDS,
    TEMPLATE_TABLE,
    make_claim as _claim,
    write_dump as _write_dump,
)

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "wd_dump.ndjson")


def test_etl_at_volume(spark, tmp_path):
    dump = str(tmp_path / "dump")
    out = str(tmp_path / "out")
    nbytes = _write_dump(dump)

    t0 = time.perf_counter()
    paths = wd2spark(spark, dump, out)
    elapsed = time.perf_counter() - t0

    good = [i for i in range(N) if i % CORRUPT_EVERY != 0]
    expected = {name: 0 for name in ("string", "entity", "coordinates", "quantity", "time", "none", "unknown")}
    for i in good:
        t = TEMPLATE_TABLE[i % 10]
        if t is not None:
            expected[t] += 1

    counts = {name: spark.read.parquet(p).count() for name, p in paths.items()}
    assert counts["meta"] == len(good)
    assert counts["quarantine"] == N - len(good)
    for name, want in expected.items():
        assert counts[name] == want, (name, counts[name], want)

    mb = nbytes / 1e6
    mbps = mb / elapsed
    print(f"\nETL volume: {mb:.1f} MB, {elapsed:.1f}s → {mbps:.1f} MB/s")
    # Floor, not a target: catches accidental O(n²) or a serialization
    # cliff. Deliberately very low — this box is a shared VM with heavy
    # CPU steal (observed 6× wall-clock swings on identical runs), so a
    # tight floor would flake; uncontended runs land at 2-5 MB/s.
    assert mbps > 0.25, f"ETL throughput collapsed: {mbps:.2f} MB/s"


def test_etl_staged_plan_is_shuffle_free(spark, tmp_path):
    """The staged single-pass plan (pipeline.py unified_rows) must stay a
    pure narrow pipeline: one scan + parse + explode, ZERO Exchanges before
    the partitioned write — the property that makes the ETL embarrassingly
    parallel over input splits at 1.5 TB. A regression that introduces a
    shuffle (or Python evaluation) here would silently serialize the whole
    dump through the cluster fabric."""
    from wd2sql_spark.etl.pipeline import parse_entities, read_dump, unified_rows
    from wd2sql_spark.plans.audit import plan_report

    dump = str(tmp_path / "dump")
    _write_dump(dump)
    rep = plan_report(unified_rows(parse_entities(read_dump(spark, dump))))
    assert rep.shuffles == 0, f"staged ETL plan gained a shuffle:\n{rep.text}"
    assert rep.broadcasts == 0
    assert not rep.python_eval and not rep.pandas_eval


# regexp_extract nodes in the executed staged plan: the id codec renders
# 7, once for the entity id, once for the property id and once for the
# claim's id (an entity id, or the id at the end of a globe or unit URL,
# whose 2 extracts make the rest). Decoding the claim id both to route the
# claim and to project its column, and encoding each URL id with the URL
# extract pasted into every codec arm, made 85.
STAGED_PLAN_REGEXP_EXTRACTS = 3 * 7 + 2


def test_etl_staged_plan_parses_each_payload_once(spark):
    """Claims are decoded INSIDE the per-entity item array, so the executed
    plan parses the dump line once and each claim payload once, renders
    the id codec once per id, and the projection after the explode only
    reads fields: the items carry the typed columns, no struct. Catalyst
    would otherwise push a post-explode filter below that projection and
    copy the payload ``from_json`` (and ``encode_wid_sql``) into an
    interpreted Filter as well as the Project."""
    from pyspark.sql.types import StructType

    from wd2sql_spark.etl.pipeline import _ITEM, parse_entities, read_dump, unified_rows

    df = unified_rows(parse_entities(read_dump(spark, FIXTURE)))
    # the relation is ``id`` and the item's fields, none of them a struct
    assert df.columns == ["id", *_ITEM]
    assert not [f.name for f in df.schema.fields if isinstance(f.dataType, StructType)]
    text = df._jdf.queryExecution().executedPlan().toString()
    assert text.count("from_json(") == 2, text  # the line, then the payload
    assert text.count("regexp_extract(") == STAGED_PLAN_REGEXP_EXTRACTS, text
    lines = text.splitlines()
    generate = next(i for i, line in enumerate(lines) if "Generate " in line)
    assert not any("Filter " in line for line in lines[:generate]), text
    assert re.match(r"\*\(\d+\) Project ", lines[0]), "top Project is outside whole-stage codegen:\n" + text


# Py4J commands one build of the staged plan sends: 5,960 with PySpark's
# per-call call-site capture on and claims routed after the explode, 1,489
# with capture off and claims routed inside the explode, 59 with the plan
# built from SQL text (one call per projection, not per expression node),
# 41 with the projection after the explode one star over the item's
# fields instead of 20 expressions.
STAGED_BUILD_PY4J_BUDGET = 41


def test_etl_staged_plan_build_py4j_budget(spark, monkeypatch):
    """Building the staged plan is a fixed cost of every ETL pass, paid in
    Py4J round trips. Memory-release commands (``m``) are left out: when
    they are sent depends on Python's garbage collector. The build is
    lazy: it launches no Spark job (the dump's schema is declared, never
    inferred)."""
    from py4j.clientserver import ClientServerConnection

    from wd2sql_spark.etl.pipeline import parse_entities, read_dump, unified_rows

    def build():
        return unified_rows(parse_entities(read_dump(spark, FIXTURE)))

    build()  # first-use JVM class loading and Python imports are not per-pass
    sent = collections.Counter()
    send = ClientServerConnection.send_command

    def counting(self, command):
        sent[command[:2]] += 1
        return send(self, command)

    sc = spark.sparkContext
    group = "etl-staged-plan-build"
    sc.setJobGroup(group, "building the staged ETL plan")
    try:
        monkeypatch.setattr(ClientServerConnection, "send_command", counting)
        build()
        monkeypatch.undo()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n = sum(k for cmd, k in sent.items() if cmd != "m\n")
    assert n <= STAGED_BUILD_PY4J_BUDGET, dict(sent)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_etl_claims_heavy_fanout(spark, tmp_path):
    """Realistic entity shape: real Wikidata entities average dozens of
    claims, so the explode fan-out (1 entity row → n+1 output rows) is the
    hot path — the 1-claim-per-entity volume test never exercises it.
    2k entities × 60 claims each (all dispatch arms) must produce exact
    per-table counts through the staged single-pass plan, and the explode
    must not blow memory or time (it is a narrow op: no shuffle, rows
    stream through codegen)."""
    import time

    n_entities, claims_per = 2_000, 60
    dump = tmp_path / "heavy.ndjson"
    with open(dump, "w") as f:
        for i in range(n_entities):
            f.write(
                json.dumps(
                    {
                        "id": f"Q{i + 1}",
                        "type": "item",
                        "labels": {"en": {"language": "en", "value": f"e{i}"}},
                        "descriptions": {},
                        "claims": {"P31": [_claim(j) for j in range(claims_per)]},
                    }
                )
                + "\n"
            )

    out = str(tmp_path / "out")
    t0 = time.perf_counter()
    paths = wd2spark(spark, str(dump), out)
    elapsed = time.perf_counter() - t0

    # Per entity: 60 claims cycle templates 0..9 six times → 6 of each arm.
    per_entity = {"string": 12, "entity": 6, "coordinates": 6, "quantity": 6,
                  "time": 6, "none": 12, "unknown": 6}  # t7 deprecated → dropped
    counts = {name: spark.read.parquet(p).count() for name, p in paths.items()}
    assert counts["meta"] == n_entities
    assert counts["quarantine"] == 0
    for name, want in per_entity.items():
        assert counts[name] == want * n_entities, (name, counts[name])

    total_rows = n_entities * (1 + sum(per_entity.values()))
    print(f"\nclaims-heavy: {total_rows} output rows in {elapsed:.1f}s")
    assert elapsed < 120, f"claims-heavy ETL too slow: {elapsed:.1f}s"
