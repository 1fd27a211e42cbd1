"""The wd2sql ETL restated as one declarative Spark dataflow.

Reference pipeline (/root/reference/src/main.rs:174-238): stream dump lines
→ skip ``[``/``]``/blank → strip trailing comma → SIMD-JSON parse → typed
``Entity`` → meta row + per-claim type dispatch into 7 typed tables, with
per-record error tolerance. Single thread, constant memory.

Here the same dataflow is a lazy DataFrame DAG: ``read.text`` → framing
``filter`` → ``from_json`` of the raw line (declared schema, PERMISSIVE,
corrupt-record quarantine; the trailing comma is stripped only from
quarantined lines) → id-encode + meta projection → per-entity claim
routing (rank filter, one payload parse, 20→7 type dispatch) →
``explode`` → payload projection — a pure narrow pipeline with ZERO
shuffles, embarrassingly parallel over input splits. Where the reference
saturates one core at bzip2 speed (README.md:13-19), this plan scales
linearly with executors. The collection lambdas that build each entity's
rows run interpreted; the projections on either side of them run under
whole-stage codegen.

Every expression is SQL text composed in Python (the builders below
return strings; the id codec is rendered from its SQL twin,
``functions.ids.encode_wid_sql``) and handed to Spark in a few
``selectExpr``/``filter`` calls. Spark's parser then builds each
projection's Catalyst tree in one Py4J call; ``Column`` objects would
cost one call per expression node. A build of the staged plan sends 59
Py4J commands.

One dataflow (:func:`unified_rows`) emits every output row, tagged with
its target ``table``; each output table is that relation filtered to its
tag and projected to its columns (``_FINAL_COLS``, the one table→columns
definition). ``transform`` returns those projections lazily, and
``wd2spark`` writes the dataflow in one of two layouts:

- ``layout="tables"`` (default): a TRUE single pass. One scan + one
  ``from_json`` parse of the dump emits every output row (meta rows,
  typed claim rows, quarantine rows) through one per-entity explode, and
  ONE write lands them partitioned by target ``table``. The 9 final
  tables are then partition-pruned, column-pruned projections of that
  store — each rewrite reads only its own partition's columns — and the
  store is deleted once they are written. JSON
  parse cost (the reference's simd_json) is paid once per line and once
  per claim payload, matching the reference's single-pass loop.
- ``layout="store"``: the partitioned single write IS the output — every
  row hits storage exactly ONCE, which is the reference's own write
  semantics (each row lands once in its SQLite B-tree, main.rs:223-237;
  there is no second per-table materialization pass). Tables are read
  through :func:`read_table`, a partition-pruned + column-pruned
  projection — the catalog-over-store shape every Hive/Iceberg-style
  Spark deployment uses. Off-table columns inside a partition are
  all-NULL and cost only RLE'd definition levels in parquet, so storage
  matches the per-table layout. Halves the ETL's write volume (and at
  100 TB, saves re-reading the corpus to re-encode it); bench reports
  this layout as the reference-comparable number.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, LongType, MapType, StringType, StructField, StructType

from wd2sql_spark.etl import schema as S
from wd2sql_spark.functions.ids import encode_entity_url_sql, encode_wid_sql

DEPRECATED = "deprecated"


def _ddl(t: DataType) -> str:
    """Spark SQL type text of ``t``, field names back-quoted (the payload
    schema has names like ``entity-type``)."""
    if isinstance(t, StructType):
        return "struct<" + ",".join(f"`{f.name}`:{_ddl(f.dataType)}" for f in t.fields) + ">"
    if isinstance(t, ArrayType):
        return f"array<{_ddl(t.elementType)}>"
    if isinstance(t, MapType):
        return f"map<{_ddl(t.keyType)},{_ddl(t.valueType)}>"
    return t.simpleString()


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
    """Framing filters + declared-schema JSON parse (2-A#2,3,4,5,14) of
    the raw ``line``. The trailing comma needs no strip: ``from_json``
    stops after the first JSON value, so ``{...},`` parses like
    ``{...}``. Malformed lines survive as rows with ``_corrupt_record``
    set — the job never aborts on bad input, matching main.rs:177-204.
    Framing lines are recognised after trimming JSON's insignificant
    whitespace (space, tab, CR; RFC 8259 §2), not only spaces. Spark's
    trim with a character list walks the whole line to trim its right
    end, so a line that opens an object — every entity line — skips it."""
    return lines.filter(
        "startswith(value, '{') OR trim(BOTH ' \\t\\r' FROM value) NOT IN ('', '[', ']')"
    ).selectExpr(
        "value AS line",
        f"from_json(value, '{_ddl(S.ENTITY_SCHEMA)}', "
        f"map('mode', 'PERMISSIVE', 'columnNameOfCorruptRecord', '{S.CORRUPT_COL}')) AS e",
    ).selectExpr(
        "line",
        f"{encode_wid_sql('e.id')} AS id",
        "e.labels AS labels",
        "e.descriptions AS descriptions",
        "e.claims AS claims",
        f"e.{S.CORRUPT_COL} AS {S.CORRUPT_COL}",
    )


# Rows the reference would print to stderr and skip (main.rs:177-219):
# JSON-corrupt lines and entities whose id doesn't encode.
_BAD = f"{S.CORRUPT_COL} IS NOT NULL OR id IS NULL"
# A quarantined line as the reference prints it: its framing comma
# stripped. Only quarantine rows evaluate these.
_QUARANTINE_LINE = r"regexp_replace(line, ',\\s*$', '')"
# A line that is only blanks and a comma parses as corrupt, but it is
# blank once stripped, which ``from_json`` reads as a NULL entity: no
# corrupt record, no id, so ``bad_id``.
_QUARANTINE_REASON = (
    f"CASE WHEN {S.CORRUPT_COL} IS NULL OR {_QUARANTINE_LINE} RLIKE '^[ \\t]*$' "
    "THEN 'bad_id' ELSE 'corrupt_json' END"
)

# meta(id, label, description): English-only, NULL on miss (main.rs:82-83;
# element_at on MapType is null-safe).
_LABEL = "element_at(labels, 'en').value"
_DESCRIPTION = "element_at(descriptions, 'en').value"


def _parse_payload(c: str) -> str:
    """ONE parse of the ``datavalue.value`` of claim ``c`` with the union
    schema (``S.MERGED_VALUE``); every per-type expression of the
    dispatch reads its own fields and ignores the rest (null for other
    types). For plain-string payloads ``from_json`` yields a null struct,
    which every consumer guards with the datavalue type."""
    return f"from_json({c}.mainsnak.datavalue.value, '{_ddl(S.MERGED_VALUE)}')"


def _route(c: str, v: str) -> str:
    """The 20→7 type dispatch (value.rs:201-261): the target table of one
    claim struct ``c`` (shape ``S.CLAIM``) whose payload parsed to ``v``
    (:func:`_parse_payload`), or NULL when the claim is skipped. ``c``
    and ``v`` are SQL expressions; so is the result.

    Per-type payload validity: the reference's value! field extraction
    (value.rs:201-261) errors on a missing/undecodable required field and
    the record is skipped (main.rs:206-215). Here an invalid payload
    dispatches to NULL → the claim row is dropped before any table (a
    NULL in a required column would otherwise violate the SQLite sink's
    NOT NULL DDL). Divergence, documented: the reference skips the WHOLE
    entity on a bad claim; we drop only the bad claim and keep the
    entity's remaining data — strictly more tolerant, same guarantee
    that no malformed value reaches an output table.

    A string datavalue with NO value is a failed extraction → the claim
    is skipped (value.rs's value! arm), NOT a NULL string row (which
    would violate the string table's NOT NULL DDL in the SQLite sink);
    found by the differential fuzz (tests/test_property_etl.py). A
    multilingualtext without English is a presence row in ``none``
    (value.rs:222-229), NOT a null string. Unrecognized datavalue types
    error-skip in the reference too."""
    t = f"{c}.mainsnak.datavalue.type"
    return f"""CASE
  WHEN {c}.mainsnak.snaktype = 'novalue' THEN 'none'
  WHEN {c}.mainsnak.snaktype = 'somevalue' THEN 'unknown'
  WHEN {t} = 'string' AND {c}.mainsnak.datavalue.value IS NOT NULL THEN 'string'
  WHEN {t} = 'monolingualtext' AND {v}.text IS NOT NULL THEN 'string'
  WHEN {t} = 'multilingualtext' AND {v}.texts['en'] IS NOT NULL THEN 'string'
  WHEN {t} = 'multilingualtext' THEN 'none'
  WHEN {t} = 'wikibase-entityid' AND {encode_wid_sql(f'{v}.id')} IS NOT NULL THEN 'entity'
  WHEN {t} = 'globecoordinate' AND {v}.latitude IS NOT NULL AND {v}.longitude IS NOT NULL
       AND {v}.precision IS NOT NULL AND {encode_entity_url_sql(f'{v}.globe')} IS NOT NULL THEN 'coordinates'
  WHEN {t} = 'quantity' AND try_cast({v}.amount AS DOUBLE) IS NOT NULL THEN 'quantity'
  WHEN {t} = 'time' AND {v}.time IS NOT NULL AND {v}.precision IS NOT NULL THEN 'time'
END"""


def _claim_value_cols(c: str, v: str) -> dict[str, str]:
    """The per-type payload columns of one claim struct ``c`` whose payload
    parsed to ``v`` (:func:`_parse_payload`), as a dict of named SQL
    expressions (unused ones NULL). With :func:`_route` this is the
    dispatch definition of :func:`unified_rows`. All expressions are
    Catalyst built-ins and ``v`` is a field of an already-parsed struct,
    so the projection that evaluates them runs under whole-stage
    codegen."""
    t = f"{c}.mainsnak.datavalue.type"
    # time: normalize Wikidata's unknown month/day "00" to "01", drop the
    # leading '+', then try_to_timestamp — out-of-range historical years
    # yield NULL while time_raw preserves the value losslessly (SURVEY §7a).
    t_norm = f"regexp_replace(regexp_replace(regexp_replace({v}.time, '-00-', '-01-'), '-00T', '-01T'), '^[+]', '')"
    return {
        "string": f"CASE {t} WHEN 'string' THEN {c}.mainsnak.datavalue.value "
        f"WHEN 'monolingualtext' THEN {v}.text WHEN 'multilingualtext' THEN {v}.texts['en'] END",
        "entity_id": f"CASE WHEN {t} = 'wikibase-entityid' THEN {encode_wid_sql(f'{v}.id')} END",
        "latitude": f"{v}.latitude",
        "longitude": f"{v}.longitude",
        "precision": f"{v}.precision",
        "globe_id": f"CASE WHEN {t} = 'globecoordinate' THEN {encode_entity_url_sql(f'{v}.globe')} END",
        # try_cast: malformed amounts must quarantine-to-NULL, not abort
        # (ANSI mode would throw on CAST) — per-record tolerance, 2-A#14.
        "amount": f"try_cast({v}.amount AS DOUBLE)",
        "lower_bound": f"try_cast({v}.lowerBound AS DOUBLE)",
        "upper_bound": f"try_cast({v}.upperBound AS DOUBLE)",
        "unit_id": f"CASE WHEN {t} = 'quantity' THEN {encode_entity_url_sql(f'{v}.unit')} END",
        "time": f"CASE WHEN {t} = 'time' THEN try_to_timestamp({t_norm}, 'yyyy-MM-dd\\'T\\'HH:mm:ssX') END",
        # precision parses as DOUBLE in the union schema (shared with
        # globecoordinate); time's integer precision round-trips exactly.
        "time_precision": f"CASE WHEN {t} = 'time' THEN CAST({v}.precision AS INT) END",
        "time_raw": f"CASE WHEN {t} = 'time' THEN {v}.time END",
    }


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

# The one table → columns definition: each output table is the rows of
# :func:`unified_rows` tagged with its name, projected to these columns
# (``time`` renames the claim column ``time_precision``).
_FINAL_COLS = {
    "meta": ["id", "label", "description"],
    "string": ["id", "property_id", "string"],
    "entity": ["id", "property_id", "entity_id"],
    "coordinates": ["id", "property_id", "latitude", "longitude", "precision", "globe_id"],
    "quantity": ["id", "property_id", "amount", "lower_bound", "upper_bound", "unit_id"],
    "time": ["id", "property_id", "time", "time_precision AS precision", "time_raw"],
    "none": ["id", "property_id"],
    "unknown": ["id", "property_id"],
    "quarantine": ["line", "reason"],
}


def _item(**fields: str) -> str:
    """SQL text of one ``_ITEM`` struct: the given fields, every other
    field a typed NULL."""
    return "named_struct(" + ", ".join(
        f"'{f.name}', {fields.get(f.name, f'CAST(NULL AS {_ddl(f.dataType)})')}" for f in _ITEM.fields
    ) + ")"


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
    encode are dropped (the reference's per-record tolerance); the deprecated-rank drop happens before type
    dispatch, exactly like main.rs:87; each kept claim's payload is
    parsed once; a second ``transform`` builds each claim's item with its
    target table routed from the parsed struct; and an array ``filter``
    drops claims whose payload failed validation. The projection after
    the explode then only reads struct fields, so it carries no
    ``from_json`` and no Filter sits above the Generate for Catalyst to
    copy the parse into.

    The plan is built from SQL text: the whole item array is one
    expression of one ``selectExpr``, and the projection after the
    explode is a second, so Spark's parser builds the Catalyst tree in
    one Py4J call per projection instead of one per expression node.
    """
    # Payload columns live INSIDE the item struct that needs them, built
    # once per entity BEFORE the explode: the meta item carries the
    # English label/description, the quarantine item carries the
    # stripped line and reason, and claim items carry neither. Hoisting
    # them out of the exploded relation matters at scale — an entity with
    # n claims would otherwise replicate its full JSON line and
    # label/description maps across all n+1 output rows of the explode.
    meta_item = _item(table="'meta'", label=_LABEL, description=_DESCRIPTION)
    quar_item = _item(table="'quarantine'", line=_QUARANTINE_LINE, reason=_QUARANTINE_REASON)
    claim_item = _item(table=_route("x.c", "x.v"), property_id="x.pid", c="x.c", v="x.v")
    props = (
        f"filter(transform(map_entries(claims), kv -> named_struct('pid', {encode_wid_sql('kv.key')}, "
        "'cs', coalesce(kv.value, array()))), p -> p.pid IS NOT NULL)"
    )
    parsed = (
        f"flatten(transform({props}, p -> transform("
        f"filter(p.cs, cl -> coalesce(cl.rank, 'normal') != '{DEPRECATED}'), "
        f"cl -> named_struct('pid', p.pid, 'c', cl, 'v', {_parse_payload('cl')}))))"
    )
    routed = f"filter(transform({parsed}, x -> {claim_item}), it -> it.`table` IS NOT NULL)"
    items = (
        f"CASE WHEN {_BAD} THEN array({quar_item}) "
        f"ELSE concat(array({meta_item}), coalesce({routed}, array())) END"
    )
    return entities.selectExpr("id", f"explode({items}) AS it").selectExpr(
        "id",
        "it.property_id AS property_id",
        "it.label AS label",
        "it.description AS description",
        *(f"{e} AS `{k}`" for k, e in _claim_value_cols("it.c", "it.v").items()),
        "it.line AS line",
        "it.reason AS reason",
        "it.`table` AS `table`",
    )


def _project(rows: DataFrame, name: str) -> DataFrame:
    """Output table ``name`` of the tagged rows ``rows`` (the
    :func:`unified_rows` relation, or the store it was written to)."""
    return rows.filter(f"`table` = '{name}'").selectExpr(*_FINAL_COLS[name])


def transform(entities: DataFrame) -> dict[str, DataFrame]:
    """All 8 output tables (+ quarantine) as lazy DataFrames, each a
    projection of one :func:`unified_rows` relation."""
    rows = unified_rows(entities)
    return {name: _project(rows, name) for name in _FINAL_COLS}


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
        stored = [c.split(" AS ")[0] for c in cols]
        empty = spark.createDataFrame([], StructType([StructField(c, StringType()) for c in stored]))
        return empty.selectExpr(*cols)
    return spark.read.parquet(part).selectExpr(*cols)


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
    guard (main.rs:98-104). Returns table→path. ``staged`` is kept for
    callers that pass ``staged=True``; any other value raises
    ``ValueError``.

    The plan pays the JSON parse exactly once: one scan of the dump emits
    ALL output rows (``unified_rows``) into one parquet store partitioned
    by target ``table`` (the Spark analog of the reference's per-table
    prepared statements — and of index-after-load: data lands clustered
    by its access path). Under ``layout="tables"`` the 9 final tables are
    then partition-pruned + column-pruned projections of that store;
    parquet being columnar, each rewrite reads only its own partition's
    live columns, never the superset. Once all 9 are written the store
    (``out_path/_staged``) is deleted, so ``out_path`` holds exactly the
    9 table directories.
    """
    if not staged:
        raise ValueError("staged=False was removed: every table is a projection of the one unified_rows pass")
    if layout not in ("tables", "store"):
        raise ValueError(f"layout must be 'tables' or 'store', got {layout!r}")
    rows = unified_rows(parse_entities(read_dump(spark, dump_path)))
    if layout == "store":
        rows.write.mode(mode).partitionBy("table").parquet(out_path)
        return {n: os.path.join(out_path, f"table={n}") for n in _FINAL_COLS}

    # The intermediate store is deleted once the tables are written, so
    # the refuse-existing-output guard checks out_path itself. Both go
    # through the Hadoop FileSystem that writes them, so a non-local
    # out_path works too.
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    fs = hpath(out_path).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if mode in ("error", "errorifexists", "default") and fs.exists(hpath(out_path)):
        raise FileExistsError(f"path {out_path} already exists")
    store_p = os.path.join(out_path, "_staged")
    rows.write.mode(mode).partitionBy("table").parquet(store_p)

    # Read the store through its `table=*` partition directories, with
    # basePath so `table` still resolves as the partition column: Spark
    # treats the `_staged` root itself as a hidden path and logs "All
    # paths were ignored" when handed it. Explicit schema: skips footer
    # inference; an all-empty store has no partition to read.
    parts = [str(st.getPath()) for st in fs.globStatus(hpath(store_p, "table=*"))]
    store = (
        spark.read.schema(rows.schema).option("basePath", store_p).parquet(*parts)
        if parts
        else spark.createDataFrame([], rows.schema)
    )

    # The 9 rewrites are independent partition-pruned projections —
    # submit them CONCURRENTLY (Spark's scheduler accepts jobs from
    # multiple threads) so their fixed per-job latency overlaps instead
    # of summing. Each job is small; on a cluster the scheduler
    # interleaves their tasks across executors exactly like one bigger
    # job.
    def _rewrite(name: str) -> tuple[str, str]:
        p = os.path.join(out_path, name)
        _project(store, name).write.mode(mode).parquet(p)
        return name, p

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(_FINAL_COLS)) as pool:
        paths = dict(pool.map(_rewrite, _FINAL_COLS))
    fs.delete(hpath(store_p), True)
    return paths
