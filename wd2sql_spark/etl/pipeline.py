"""The wd2sql ETL restated as one declarative Spark dataflow.

Reference pipeline (/root/reference/src/main.rs:174-238): stream dump lines
→ skip ``[``/``]``/blank → strip trailing comma → SIMD-JSON parse → typed
``Entity`` → meta row + per-claim type dispatch into 7 typed tables, with
per-record error tolerance. Single thread, constant memory.

Here the same dataflow is a lazy DataFrame DAG: ``read.text`` →
``filter``/``regexp_replace`` → ``from_json`` (declared schema, PERMISSIVE,
corrupt-record quarantine) → id-encode + meta projection → per-entity
claim routing (rank filter, one payload parse, 20→7 type dispatch) →
``explode`` → payload projection — a pure narrow pipeline with ZERO
shuffles, embarrassingly parallel over input splits. Where the reference
saturates one core at bzip2 speed (README.md:13-19), this plan scales
linearly with executors. The collection lambdas that build each entity's
rows run interpreted; the projections on either side of them run under
whole-stage codegen.

Write strategies (``wd2spark``):

- ``staged=True`` (default, the 100-TB path): a TRUE single pass. One scan
  + one ``from_json`` parse of the dump emits every output row (meta rows,
  typed claim rows, quarantine rows) through one per-entity explode, and
  ONE write lands them partitioned by target ``table``. With
  ``layout="tables"`` the 9 final tables are then partition-pruned,
  column-pruned projections of that store — each rewrite reads only its
  own partition's columns. JSON parse cost (the reference's simd_json)
  is paid once per line and once per claim payload, matching the
  reference's single-pass loop.
- ``staged=True, layout="store"``: the partitioned single write IS the
  output — every row hits storage exactly ONCE, which is the reference's
  own write semantics (each row lands once in its SQLite B-tree,
  main.rs:223-237; there is no second per-table materialization pass).
  Tables are read through :func:`read_table`, a partition-pruned +
  column-pruned projection — the catalog-over-store shape every Hive/
  Iceberg-style Spark deployment uses. Off-table columns inside a
  partition are all-NULL and cost only RLE'd definition levels in
  parquet, so storage matches the per-table layout. Halves the ETL's
  write volume (and at 100 TB, saves re-reading the corpus to re-encode
  it); bench reports this layout as the reference-comparable number.
- ``staged=False``: each table's write re-derives from the dump (8 narrow
  scans, no intermediate storage — fine when the dump is small or already
  in RAM/page cache).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

from wd2sql_spark.etl import schema as S
from wd2sql_spark.functions.ids import encode_entity_url, encode_wid

DEPRECATED = "deprecated"
VALUE_TABLES = ("string", "entity", "coordinates", "quantity", "time", "none", "unknown")


def read_dump(spark: SparkSession, dump_path: str) -> DataFrame:
    """Source: the dump file/directory as raw lines (2-A#1). ``read.text``
    splits large files by range, so a single 1.5 TB dump parallelizes
    across executors (vs the reference's sequential BufReader,
    main.rs:122-137).

    A round-robin pre-spread when the dump has fewer splits than cores
    was tried and REJECTED: at toy scale the text shuffle + the 32-way
    fan-out of tiny dynamic-partition output files cost more than the
    parse parallelism bought (~4.3 s vs 2.9 s warm on the 18 MB fixture),
    and at real dump sizes the scan already has more splits than cores —
    so the respread would only ever fire where it hurts. It would also
    break the staged plan's zero-Exchange guarantee."""
    return spark.read.text(dump_path)


def parse_entities(lines: DataFrame) -> DataFrame:
    """Framing filters + trailing-comma strip + declared-schema JSON parse
    (2-A#2,3,4,5,14). Malformed lines survive as rows with only
    ``_corrupt_record`` set — the job never aborts on bad input, matching
    main.rs:177-204."""
    v = F.col("value")
    framed = lines.filter(
        (F.trim(v) != "") & (F.trim(v) != "[") & (F.trim(v) != "]")
    ).select(F.regexp_replace(v, r",\s*$", "").alias("line"))
    parsed = framed.select(
        F.col("line"),
        F.from_json(
            "line",
            S.ENTITY_SCHEMA,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": S.CORRUPT_COL},
        ).alias("e"),
    )
    return parsed.select(
        "line",
        F.col("e.id").alias("raw_id"),
        encode_wid(F.col("e.id")).alias("id"),
        F.col("e.labels").alias("labels"),
        F.col("e.descriptions").alias("descriptions"),
        F.col("e.claims").alias("claims"),
        F.col(f"e.{S.CORRUPT_COL}").alias(S.CORRUPT_COL),
    )


def quarantine(entities: DataFrame) -> DataFrame:
    """Rows the reference would print to stderr and skip (main.rs:177-219):
    JSON-corrupt lines and entities whose id doesn't encode."""
    return entities.filter(
        F.col(S.CORRUPT_COL).isNotNull() | F.col("id").isNull()
    ).select(
        F.col("line"),
        F.when(F.col(S.CORRUPT_COL).isNotNull(), "corrupt_json")
        .otherwise("bad_id")
        .alias("reason"),
    )


def good_entities(entities: DataFrame) -> DataFrame:
    return entities.filter(F.col(S.CORRUPT_COL).isNull() & F.col("id").isNotNull())


def meta_table(entities: DataFrame) -> DataFrame:
    """meta(id, label, description): English-only projection with NULL on
    miss (main.rs:82-83; element_at on MapType is null-safe)."""
    return good_entities(entities).select(
        F.col("id"),
        F.element_at(F.col("labels"), "en").getField("value").alias("label"),
        F.element_at(F.col("descriptions"), "en").getField("value").alias("description"),
    )


def _parse_payload(c: Column) -> Column:
    """ONE parse of a claim's ``datavalue.value`` with the union schema
    (``S.MERGED_VALUE``); every per-type expression of the dispatch reads
    its own fields and ignores the rest (null for other types). For
    plain-string payloads ``from_json`` yields a null struct, which every
    consumer guards with the datavalue type."""
    return F.from_json(c.getField("mainsnak").getField("datavalue").getField("value"), S.MERGED_VALUE)


def _route(c: Column, v: Column) -> Column:
    """The 20→7 type dispatch (value.rs:201-261): the target table of one
    claim struct ``c`` (shape ``S.CLAIM``) whose payload parsed to ``v``
    (:func:`_parse_payload`), or NULL when the claim is skipped.

    Per-type payload validity: the reference's value! field extraction
    (value.rs:201-261) errors on a missing/undecodable required field and
    the record is skipped (main.rs:206-215). Here an invalid payload
    dispatches to NULL → the claim row is dropped before any table (a
    NULL in a required column would otherwise violate the SQLite sink's
    NOT NULL DDL). Divergence, documented: the reference skips the WHOLE
    entity on a bad claim; we drop only the bad claim and keep the
    entity's remaining data — strictly more tolerant, same guarantee
    that no malformed value reaches an output table."""
    snaktype = c.getField("mainsnak").getField("snaktype")
    dv_type = c.getField("mainsnak").getField("datavalue").getField("type")
    dv_raw = c.getField("mainsnak").getField("datavalue").getField("value")
    null_t = F.lit(None).cast("string")
    coord_ok = (
        v.getField("latitude").isNotNull()
        & v.getField("longitude").isNotNull()
        & v.getField("precision").isNotNull()
        & encode_entity_url(v.getField("globe")).isNotNull()
    )
    entity_ok = encode_wid(v.getField("id")).isNotNull()
    qty_ok = v.getField("amount").try_cast("double").isNotNull()
    time_ok = v.getField("time").isNotNull() & v.getField("precision").isNotNull()
    return (
        F.when(snaktype == "novalue", "none")
        .when(snaktype == "somevalue", "unknown")
        # A string datavalue with NO value is a failed extraction → the
        # claim is skipped (value.rs's value! arm), NOT a NULL string row
        # (which would violate the string table's NOT NULL DDL in the
        # SQLite sink). Found by the differential fuzz
        # (tests/test_property_etl.py); the other arms were already
        # guarded by their *_ok predicates.
        .when((dv_type == "string") & dv_raw.isNotNull(), "string")
        .when((dv_type == "monolingualtext") & v.getField("text").isNotNull(), "string")
        # MultilingualText: English → string, no English → none
        # (value.rs:222-229 — a presence row, NOT a null string)
        .when((dv_type == "multilingualtext") & v.getField("texts").getItem("en").isNotNull(), "string")
        .when(dv_type == "multilingualtext", "none")
        .when(dv_type == "wikibase-entityid", F.when(entity_ok, "entity").otherwise(null_t))
        .when(dv_type == "globecoordinate", F.when(coord_ok, "coordinates").otherwise(null_t))
        .when(dv_type == "quantity", F.when(qty_ok, "quantity").otherwise(null_t))
        .when(dv_type == "time", F.when(time_ok, "time").otherwise(null_t))
        # Unrecognized datavalue types error-skip in the reference too.
        .otherwise(null_t)
    )


def _claim_value_cols(c: Column, v: Column) -> dict:
    """The per-type payload columns of one claim struct ``c`` whose payload
    parsed to ``v`` (:func:`_parse_payload`), as a dict of named column
    expressions (unused ones NULL). With :func:`_route` this is the one
    dispatch definition, shared by the per-claim path (``claims_flat``)
    and the single-pass unified path (``unified_rows``). All expressions
    are Catalyst built-ins; where ``v`` is a field of an already-parsed
    struct (``unified_rows``), the projection that evaluates them runs
    under whole-stage codegen."""
    dv_type = c.getField("mainsnak").getField("datavalue").getField("type")
    dv_raw = c.getField("mainsnak").getField("datavalue").getField("value")
    multi_en = v.getField("texts").getItem("en")

    # time: normalize Wikidata's unknown month/day "00" to "01", drop the
    # leading '+', then try_to_timestamp — out-of-range historical years
    # yield NULL while time_raw preserves the value losslessly (SURVEY §7a).
    t_raw = v.getField("time")
    t_norm = F.regexp_replace(
        F.regexp_replace(t_raw, r"-00-", "-01-"),
        r"-00T",
        "-01T",
    )
    t_norm = F.regexp_replace(t_norm, r"^\+", "")
    parsed_ts = F.try_to_timestamp(t_norm, F.lit("yyyy-MM-dd'T'HH:mm:ssX"))

    return {
        "string": F.when(dv_type == "string", dv_raw)
        .when(dv_type == "monolingualtext", v.getField("text"))
        .when(dv_type == "multilingualtext", multi_en),
        "entity_id": F.when(dv_type == "wikibase-entityid", encode_wid(v.getField("id"))),
        "latitude": v.getField("latitude"),
        "longitude": v.getField("longitude"),
        "precision": v.getField("precision"),
        "globe_id": F.when(dv_type == "globecoordinate", encode_entity_url(v.getField("globe"))),
        # try_cast: malformed amounts must quarantine-to-NULL, not abort
        # (ANSI mode would throw on CAST) — per-record tolerance, 2-A#14.
        "amount": v.getField("amount").try_cast("double"),
        "lower_bound": v.getField("lowerBound").try_cast("double"),
        "upper_bound": v.getField("upperBound").try_cast("double"),
        "unit_id": F.when(dv_type == "quantity", encode_entity_url(v.getField("unit"))),
        "time": F.when(dv_type == "time", parsed_ts),
        # precision parses as DOUBLE in the union schema (shared with
        # globecoordinate); time's integer precision round-trips exactly.
        "time_precision": F.when(dv_type == "time", v.getField("precision").cast("int")),
        "time_raw": F.when(dv_type == "time", t_raw),
    }


def claims_flat(entities: DataFrame) -> DataFrame:
    """Two-level explode of the claims map (2-A#9) + deprecated-rank drop
    (2-A#8, main.rs:87 — BEFORE dispatch, so deprecated novalue claims
    never reach the none table) + 20→7 type dispatch (value.rs:201-261) in
    one wide projection. That projection repeats the payload ``from_json``
    subtree in many of its columns; Spark's subexpression elimination
    evaluates the common subtree once per row.

    Output: one row per kept claim with ``value_type`` ∈ 7 tables plus the
    per-type payload columns (unused ones NULL)."""
    e = good_entities(entities)
    per_prop = e.select(
        "id", F.explode("claims").alias("pid_str", "statements")
    ).select(
        "id", encode_wid(F.col("pid_str")).alias("property_id"), F.explode("statements").alias("c")
    )
    kept = per_prop.filter(
        F.col("property_id").isNotNull() & (F.coalesce(F.col("c.rank"), F.lit("normal")) != DEPRECATED)
    )
    c = F.col("c")
    v = _parse_payload(c)
    cols = _claim_value_cols(c, v)
    return kept.select(
        "id", "property_id", _route(c, v).alias("value_type"), *[col.alias(k) for k, col in cols.items()]
    )


# Per-table projections from the flat claims relation.
_TABLE_COLS = {
    "string": ["id", "property_id", "string"],
    "entity": ["id", "property_id", "entity_id"],
    "coordinates": ["id", "property_id", "latitude", "longitude", "precision", "globe_id"],
    "quantity": ["id", "property_id", "amount", "lower_bound", "upper_bound", "unit_id"],
    "time": ["id", "property_id", "time", "time_precision", "time_raw"],
    "none": ["id", "property_id"],
    "unknown": ["id", "property_id"],
}


def value_table(claims: DataFrame, name: str) -> DataFrame:
    cols = _TABLE_COLS[name]
    df = claims.filter(F.col("value_type") == name).select(*cols)
    if name == "time":
        df = df.withColumnRenamed("time_precision", "precision")
    return df


def transform(entities: DataFrame) -> dict[str, DataFrame]:
    """All 8 output tables (+ quarantine) as lazy DataFrames."""
    claims = claims_flat(entities)
    out: dict[str, DataFrame] = {"meta": meta_table(entities)}
    for name in VALUE_TABLES:
        out[name] = value_table(claims, name)
    out["quarantine"] = quarantine(entities)
    return out


# One output row before the explode: its target table, plus only the
# fields that row kind needs (the rest NULL).
_ITEM = StructType(
    [
        StructField("table", StringType()),
        StructField("property_id", LongType()),
        StructField("c", S.CLAIM),
        StructField("v", S.MERGED_VALUE),
        StructField("label", StringType()),
        StructField("description", StringType()),
        StructField("line", StringType()),
        StructField("reason", StringType()),
    ]
)

# Final per-table projections out of the unified staged store.
_FINAL_COLS = {
    "meta": ["id", "label", "description"],
    "quarantine": ["line", "reason"],
    **_TABLE_COLS,
}


def _item(table: Column, **fields: Column) -> Column:
    """One ``_ITEM`` struct: ``table`` plus the given fields, every other
    field NULL."""
    return F.struct(
        table.alias("table"),
        *[fields.get(f.name, F.lit(None).cast(f.dataType)).alias(f.name) for f in _ITEM.fields[1:]],
    )


def unified_rows(entities: DataFrame) -> DataFrame:
    """Every output row of the whole ETL — meta rows, the 7 kinds of typed
    claim rows, and quarantine rows — from ONE pass over the parsed
    entities, tagged with a ``table`` column.

    This is the Spark restatement of the reference's per-entity loop body
    (main.rs:69-93: one meta insert + one typed insert per kept claim,
    errors skipped): each entity expands, via a single ``explode`` over a
    per-entity item array built with native collection lambdas, into
    exactly its output rows. One scan, zero shuffles.

    Every claim is routed INSIDE the item array, before the explode: the
    property id is encoded once per property, and properties that don't
    encode are dropped (matching ``claims_flat`` and the reference's
    per-record tolerance); the deprecated-rank drop happens before type
    dispatch, exactly like main.rs:87; each kept claim's payload is
    parsed once into its item; a second ``transform`` computes the target
    table from the parsed struct; and an array ``filter`` drops claims
    whose payload failed validation. The projection after the explode
    then only reads struct fields, so it carries no ``from_json`` and no
    Filter sits above the Generate for Catalyst to copy the parse into.
    """
    bad = F.col(S.CORRUPT_COL).isNotNull() | F.col("id").isNull()

    # Payload columns live INSIDE the item struct that needs them, built
    # once per entity BEFORE the explode: the meta item carries the
    # English label/description, the quarantine item carries the raw line
    # and reason, and claim items carry neither. Hoisting them out of the
    # exploded relation matters at scale — an entity with n claims would
    # otherwise replicate its full JSON line and label/description maps
    # across all n+1 output rows of the explode.
    meta_item = _item(
        F.lit("meta"),
        label=F.element_at(F.col("labels"), "en").getField("value"),
        description=F.element_at(F.col("descriptions"), "en").getField("value"),
    )
    quar_item = _item(
        F.lit("quarantine"),
        line=F.col("line"),
        reason=F.when(F.col(S.CORRUPT_COL).isNotNull(), "corrupt_json").otherwise("bad_id"),
    )
    props = F.filter(
        F.transform(
            F.map_entries(F.col("claims")),
            lambda kv: F.struct(
                encode_wid(kv.getField("key")).alias("pid"),
                F.coalesce(kv.getField("value"), F.array().cast(ArrayType(S.CLAIM))).alias("cs"),
            ),
        ),
        lambda p: p.getField("pid").isNotNull(),
    )
    parsed = F.flatten(
        F.transform(
            props,
            lambda p: F.transform(
                F.filter(
                    p.getField("cs"),
                    lambda cl: F.coalesce(cl.getField("rank"), F.lit("normal")) != DEPRECATED,
                ),
                lambda cl: _item(
                    F.lit(None).cast("string"), property_id=p.getField("pid"), c=cl, v=_parse_payload(cl)
                ),
            ),
        )
    )
    routed = F.filter(
        F.transform(parsed, lambda it: it.withField("table", _route(it.getField("c"), it.getField("v")))),
        lambda it: it.getField("table").isNotNull(),
    )
    items = F.when(bad, F.array(quar_item)).otherwise(
        F.concat(F.array(meta_item), F.coalesce(routed, F.array().cast(ArrayType(_ITEM))))
    )

    it = F.col("it")
    d = _claim_value_cols(it.getField("c"), it.getField("v"))
    return entities.select("id", F.explode(items).alias("it")).select(
        F.col("id"),
        it.getField("property_id").alias("property_id"),
        it.getField("label").alias("label"),
        it.getField("description").alias("description"),
        *[v.alias(key) for key, v in d.items()],
        it.getField("line").alias("line"),
        it.getField("reason").alias("reason"),
        it.getField("table").alias("table"),
    )


def read_table(spark: SparkSession, out_path: str, name: str) -> DataFrame:
    """Read one logical table out of a ``layout="store"`` output: the
    partition directory ``out_path/table=<name>`` projected to the table's
    final schema (partition pruning via the path, column pruning via the
    select — the parquet scan touches only this table's live columns).

    A table with zero rows has no partition directory; that reads as an
    empty relation with the right column NAMES (types resolve on first
    non-empty read, like any schema-on-read catalog)."""
    cols = _FINAL_COLS[name]
    part = os.path.join(out_path, f"table={name}")
    if not os.path.isdir(part):
        return spark.createDataFrame(
            [], StructType([StructField(c, StringType()) for c in cols])
        ).toDF(*(["precision" if c == "time_precision" else c for c in cols]))
    df = spark.read.parquet(part).select(*cols)
    if name == "time":
        df = df.withColumnRenamed("time_precision", "precision")
    return df


def wd2spark(
    spark: SparkSession,
    dump_path: str,
    out_path: str,
    *,
    staged: bool = True,
    mode: str = "errorifexists",
    layout: str = "tables",
) -> dict[str, str]:
    """End-to-end ETL: dump → ``out_path/{table}`` parquet datasets
    (``layout="tables"``), or one table-partitioned store read through
    :func:`read_table` (``layout="store"`` — single write generation, the
    reference's own write-once semantics; see module docstring).

    ``mode="errorifexists"`` mirrors the reference's refuse-existing-output
    guard (main.rs:98-104). Returns table→path.

    The staged plan pays the JSON parse exactly once: one scan of the dump
    emits ALL output rows (``unified_rows``) into one parquet store
    partitioned by target ``table`` (the Spark analog of the reference's
    per-table prepared statements — and of index-after-load: data lands
    clustered by its access path). Under ``layout="tables"`` the 9 final
    tables are then partition-pruned + column-pruned projections of that
    store; parquet being columnar, each rewrite reads only its own
    partition's live columns, never the superset.
    """
    if layout not in ("tables", "store"):
        raise ValueError(f"layout must be 'tables' or 'store', got {layout!r}")
    if layout == "store" and not staged:
        raise ValueError("layout='store' requires staged=True (it IS the staged write)")
    entities = parse_entities(read_dump(spark, dump_path))
    paths: dict[str, str] = {}

    if staged and layout == "store":
        uf = unified_rows(entities)
        uf.write.mode(mode).partitionBy("table").parquet(out_path)
        return {n: os.path.join(out_path, f"table={n}") for n in _FINAL_COLS}

    if staged:
        stage_p = os.path.join(out_path, "_staged")
        uf = unified_rows(entities)
        uf.write.mode(mode).partitionBy("table").parquet(stage_p)
        # Explicit schema: robust to an all-empty store and skips footer
        # inference; `table` resolves as the partition column.
        store = spark.read.schema(uf.schema).parquet(stage_p)

        # The 9 rewrites are independent partition-pruned projections —
        # submit them CONCURRENTLY (Spark's scheduler accepts jobs from
        # multiple threads) so their fixed per-job latency overlaps
        # instead of summing. Each job is small; on a cluster the
        # scheduler interleaves their tasks across executors exactly like
        # one bigger job.
        def _rewrite(item: tuple[str, tuple[str, ...]]) -> tuple[str, str]:
            name, cols = item
            p = os.path.join(out_path, name)
            df = store.filter(F.col("table") == name).select(*cols)
            if name == "time":
                df = df.withColumnRenamed("time_precision", "precision")
            df.write.mode(mode).parquet(p)
            return name, p

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(_FINAL_COLS)) as pool:
            paths.update(pool.map(_rewrite, _FINAL_COLS.items()))
    else:
        meta_p = os.path.join(out_path, "meta")
        meta_table(entities).write.mode(mode).parquet(meta_p)
        paths["meta"] = meta_p

        quar_p = os.path.join(out_path, "quarantine")
        quarantine(entities).write.mode(mode).parquet(quar_p)
        paths["quarantine"] = quar_p

        claims = claims_flat(entities)
        for name in VALUE_TABLES:
            p = os.path.join(out_path, name)
            value_table(claims, name).write.mode(mode).parquet(p)
            paths[name] = p
    return paths
