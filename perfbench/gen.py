"""Seeded input generators for the benchmark.

Two families, both pure functions of ``seed`` (same seed, same bytes):

- :func:`write_dump` writes a Wikidata-style NDJSON dump and returns the
  row count every ETL output table must have (the ground truth the ETL
  check compares against). Its skew and the size of the fields the ETL
  skips are assumptions, not fitted to a real dump; see the constants.
- :func:`write_tables` writes the ten relational tables the query battery
  and the admission stream read (``region`` … ``embeddings``), with the
  value domains of the fixture tables the registered queries and their
  DuckDB oracles were written against.

:func:`cached` keeps each generated input under the work directory keyed
by its parameters, so a second run with the same seed reuses it and input
generation never lands inside a timed or set-up interval.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from wd2sql_spark.etl.synthdump import CORRUPT_EVERY, SHARDS, TEMPLATE_TABLE, make_claim

TRUTH = "truth.json"


def cached(root: str, key: str, build: Callable[[str], dict]) -> tuple[str, dict]:
    """Return ``(dir, truth)`` for input ``key``, building it on a miss.
    ``truth.json`` is written last, so a run killed mid-build leaves a
    directory that the next run discards and rebuilds."""
    d = os.path.join(root, key)
    marker = os.path.join(d, TRUTH)
    if os.path.exists(marker):
        with open(marker) as f:
            return d, json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    truth = build(tmp)
    with open(os.path.join(tmp, TRUTH), "w") as f:
        json.dump(truth, f)
    os.rename(tmp, d)
    return d, truth


# ---------------------------------------------------------------------------
# Wikidata-style dump
# ---------------------------------------------------------------------------

# Traffic shape of the dump. Every figure here is an assumption chosen to
# give a skewed, mixed load, not a statistic measured on a real dump:
# moving one moves ETL MB/s and the read/parse/flatten split with it.
N_PROPS = 3000  # property ids P1..P3000, Zipf 1.1
PROPERTY_SHARE = 0.03  # entities that are properties rather than items
CLAIMS_PARETO = 1.3  # claims per entity: 3 × Pareto(1.3), at most 400
TEMPLATE_WEIGHTS = (3, 3, 1, 1, 1, 1, 1, 1, 1, 1)  # make_claim templates 0-9
# Fields a real dump line carries that the ETL's declared schema skips:
# the parser still scans past them, so they cost parse bytes but yield no
# rows. Shares per claim or per entity, and entries when present.
QUALIFIED = 0.25  # claims with qualifiers (1-2 snaks)
REFERENCED = 0.5  # claims with one reference (1-3 snaks)
ALIASED = 0.3  # entities with aliases (1-3)
SITELINKED = 0.25  # items with sitelinks (1-4)
_OTHER_LANGS = (
    ("de", "Straße {}"),
    ("fr", "Élément {}"),
    ("ru", "Объект {}"),
    ("ja", "項目 {}"),
    ("zh", "条目 {}"),
)
_WIKIS = ("enwiki", "dewiki", "frwiki", "jawiki", "ruwiki", "commonswiki", "enwikisource")
_GLOBES = ("http://www.wikidata.org/entity/Q2", "http://www.wikidata.org/entity/Q405")
_UNITS = ("http://www.wikidata.org/entity/Q11573", "http://www.wikidata.org/entity/Q828224", "1")


# Item-valued claims point at Zipf-popular targets, as P31 → Q5 does in a
# real dump, so reverse and conjunctive lookups have answers.
_TARGETS = range(1, 2001)
_TARGET_CUM = list(np.cumsum([1.0 / k for k in _TARGETS]))


def _claim(rng: random.Random, template: int, pid: str, eid: str) -> dict:
    """One claim of ``make_claim``'s shape for ``template`` with seeded
    values and property ``pid`` on entity ``eid``, with the statement id,
    hashes, qualifiers and references a dump line carries."""
    c = make_claim(template)
    snak = c["mainsnak"]
    snak["property"] = pid
    dv = snak.get("datavalue")
    if template == 0:
        dv["value"] = f"s-{rng.getrandbits(40):x}"
    elif template == 1:
        n = rng.choices(_TARGETS, cum_weights=_TARGET_CUM)[0]
        dv["value"] = {"entity-type": "item", "numeric-id": n, "id": f"Q{n}"}
    elif template == 2:
        v = dv["value"]
        v["latitude"] = round(rng.uniform(-90, 90), 5)
        v["longitude"] = round(rng.uniform(-180, 180), 5)
        v["globe"] = rng.choice(_GLOBES)
    elif template == 3:
        amount = round(rng.uniform(-1e6, 1e6), 3)
        if rng.random() < 0.5:
            dv["value"] = {"amount": f"{amount:+}", "unit": "1"}
        else:
            dv["value"] = {
                "amount": f"{amount:+}",
                "lowerBound": f"{amount - 1:+}",
                "upperBound": f"{amount + 1:+}",
                "unit": rng.choice(_UNITS),
            }
    elif template == 4:
        year = rng.randrange(1000, 2030)
        month = rng.randrange(0, 13)
        day = rng.randrange(0, 29) if month else 0
        dv["value"] = {
            "time": f"+{year:04d}-{month:02d}-{day:02d}T00:00:00Z",
            "precision": 11 if day else (10 if month else 9),
        }
    elif template == 8:
        dv["value"] = {"text": f"m-{rng.getrandbits(32):x}", "language": rng.choice(("en", "de", "fr"))}
    if template != 7 and rng.random() < 0.1:
        c["rank"] = "preferred"
    snak["hash"] = _hash(rng)
    c["type"] = "statement"
    c["id"] = f"{eid}${rng.getrandbits(128):032X}"
    if rng.random() < QUALIFIED:
        c["qualifiers"] = _by_property(_aux_snak(rng) for _ in range(rng.randint(1, 2)))
        c["qualifiers-order"] = list(c["qualifiers"])
    if rng.random() < REFERENCED:
        snaks = _by_property(_aux_snak(rng) for _ in range(rng.randint(1, 3)))
        c["references"] = [{"hash": _hash(rng), "snaks": snaks, "snaks-order": list(snaks)}]
    return c


def _by_property(snaks) -> dict:
    out: dict = {}
    for q in snaks:
        out.setdefault(q["property"], []).append(q)
    return out


def _hash(rng: random.Random) -> str:
    return f"{rng.getrandbits(160):040x}"


# Qualifier and reference snaks: point in time, stated in, reference URL.
_AUX_PROPS = ("P585", "P248", "P854")


def _aux_snak(rng: random.Random) -> dict:
    pid = rng.choice(_AUX_PROPS)
    if pid == "P585":
        dt, value = "time", {"time": f"+{rng.randrange(1900, 2030)}-01-01T00:00:00Z", "precision": 9}
        dv = {"type": "time", "value": value}
    elif pid == "P248":
        n = rng.randrange(1, 100_000)
        dt = "wikibase-item"
        dv = {"type": "wikibase-entityid", "value": {"entity-type": "item", "numeric-id": n, "id": f"Q{n}"}}
    else:
        dt, dv = "url", {"type": "string", "value": f"https://example.org/source/{rng.getrandbits(48):x}"}
    return {"snaktype": "value", "property": pid, "hash": _hash(rng), "datavalue": dv, "datatype": dt}


def write_dump(root: str, seed: int, n_entities: int) -> dict:
    """Write ``n_entities`` dump lines into ``synthdump.SHARDS`` files
    under ``root/dump`` and return the ground truth: bytes, entity and
    corrupt line counts, and the expected row count of every output table.

    Skew (assumed, see the constants above): claims per entity follow a
    Pareto tail (median 4, a few hundred at most) over Zipf-popular
    property ids, so flatten work per line varies. Every value arm of
    ``synthdump.make_claim`` appears; deprecated claims are dropped by the
    ETL and so count towards no table. Labels are English, other-language
    only (the ETL's NULL-label case) or absent. Aliases, sitelinks,
    qualifiers, references, statement ids and hashes yield no rows."""
    rng = random.Random(seed)
    weights = [1.0 / (k**1.1) for k in range(1, N_PROPS + 1)]
    cum = list(np.cumsum(weights))
    templates = list(TEMPLATE_TABLE)
    rows = {t: 0 for t in ("meta", "string", "entity", "coordinates", "quantity", "time", "none", "unknown", "quarantine")}
    dump = os.path.join(root, "dump")
    os.makedirs(dump)
    per = n_entities // SHARDS
    total = 0
    entities = 0
    corrupt = 0
    for s in range(SHARDS):
        path = os.path.join(dump, f"shard-{s}.json")
        with open(path, "w", encoding="utf-8") as f:
            f.write("[\n")
            for j in range(per):
                i = s * per + j
                if j == per // 2:
                    f.write("\n")  # framing noise: a blank line mid-shard
                if i % CORRUPT_EVERY == 0:
                    f.write('{"id": "Q broken...,\n')
                    corrupt += 1
                    rows["quarantine"] += 1
                    continue
                kind = "property" if rng.random() < PROPERTY_SHARE else "item"
                eid = f"{'P' if kind == 'property' else 'Q'}{i + 1}"
                labels: dict = {}
                descriptions: dict = {}
                r = rng.random()
                if r < 0.75:
                    labels["en"] = {"language": "en", "value": f"label {i}"}
                    descriptions["en"] = {"language": "en", "value": f"description of {i}"}
                if r >= 0.6 and r < 0.95:
                    lang, fmt = _OTHER_LANGS[i % len(_OTHER_LANGS)]
                    labels[lang] = {"language": lang, "value": fmt.format(i)}
                n_claims = min(400, int(rng.paretovariate(CLAIMS_PARETO) * 3))
                claims: dict = {}
                for pick in rng.choices(range(1, N_PROPS + 1), cum_weights=cum, k=n_claims):
                    t = rng.choices(templates, weights=TEMPLATE_WEIGHTS)[0]
                    pid = f"P{pick}"
                    claims.setdefault(pid, []).append(_claim(rng, t, pid, eid))
                    table = TEMPLATE_TABLE[t]
                    if table is not None:
                        rows[table] += 1
                aliases: dict = {}
                if rng.random() < ALIASED:
                    for a in range(rng.randint(1, 3)):
                        lang = rng.choice(("en", *(lang for lang, _ in _OTHER_LANGS)))
                        aliases.setdefault(lang, []).append({"language": lang, "value": f"alias {a} of {i}"})
                ent = {
                    "pageid": i + 100,
                    "ns": 120 if kind == "property" else 0,
                    "title": eid,
                    "lastrevid": 1_000_000_000 + rng.getrandbits(30),
                    "modified": f"2024-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}T00:00:00Z",
                    "id": eid,
                    "type": kind,
                    "labels": labels,
                    "descriptions": descriptions,
                    "aliases": aliases,
                    "claims": claims,
                }
                if kind == "item":
                    wikis = rng.sample(_WIKIS, rng.randint(1, 4)) if rng.random() < SITELINKED else []
                    ent["sitelinks"] = {w: {"site": w, "title": f"Article {i}", "badges": []} for w in wikis}
                f.write(json.dumps(ent, ensure_ascii=False) + ",\n")
                entities += 1
                rows["meta"] += 1
            f.write("]\n")
        total += os.path.getsize(path)
    return {"bytes": total, "entities": entities, "corrupt_lines": corrupt, "rows": rows}


# ---------------------------------------------------------------------------
# Relational tables
# ---------------------------------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_LANGS = ("en", "en", "en", "en", "fr", "es", "zh", "de", "en", "fr", "es", "zh", "de")
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()


def _days(start: str, end: str) -> tuple[np.datetime64, int]:
    a = np.datetime64(start, "D")
    return a, int((np.datetime64(end, "D") - a).astype(int))


def _ts(a: np.datetime64, days: np.ndarray) -> pa.Array:
    return pa.array((a + days.astype("timedelta64[D]")).astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(root: str, seed: int, sf: float) -> dict:
    """Write the ten tables at scale ``sf`` (row counts as the fixture
    tables: 1.5M orders and 6M lineitems per unit of sf; 500 documents and
    embeddings at least) into ``root/tables`` and return their row
    counts."""
    rng = np.random.default_rng(seed)
    out = os.path.join(root, "tables")
    os.makedirs(out)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_users = max(150, int(15_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    def i32(x):
        return pa.array(np.asarray(x, dtype=np.int32))

    def i64(x):
        return pa.array(np.asarray(x, dtype=np.int64))

    def pick(values, n):
        return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)].tolist(), pa.string())

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(list(_REGIONS))})
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
            "n_regionkey": i32([k % 5 for k in range(25)]),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": i64(range(n_cust)),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pick(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": i64(range(n_supp)),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": i64(range(n_part)),
            "p_name": pick(names, n_part),
            "p_brand": pick([f"Brand#{k}" for k in range(1, 26)], n_part),
            "p_type": pick(_PART_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
        }
    )
    o0, o_span = _days("1995-01-01", "2001-08-01")
    t["orders"] = pa.table(
        {
            "o_orderkey": i64(range(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pick(("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _ts(o0, rng.integers(0, o_span + 1, n_ord)),
            "o_orderpriority": pick(_PRIORITIES, n_ord),
        }
    )
    l0, l_span = _days("1995-01-02", "2001-11-04")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pick(("A", "N", "R"), n_line),
            "l_linestatus": pick(("F", "O"), n_line),
            "l_shipdate": _ts(l0, rng.integers(0, l_span + 1, n_line)),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    t["events"] = pa.table(
        {
            "event_id": i64(range(n_events)),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": i64(rng.integers(0, n_users, n_events)),
            "event_type": pick(_EVENT_TYPES, n_events),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    t["documents"] = pa.table(documents(rng, n_docs))
    centroids = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] * 0.3 + rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": i64(range(n_emb)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": i32(labels),
        }
    )
    for name, tbl in t.items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
    return {"rows": {name: tbl.num_rows for name, tbl in t.items()}}


def documents(rng: np.random.Generator, n: int, first_id: int = 0, salt: str = "") -> dict:
    """``n`` documents of 10-100 words over a 30-word vocabulary; one in
    twenty repeats an earlier document of the same batch with a ``dup``
    token appended (a near duplicate for the MinHash paths). ``salt``
    appends one token to every document, so batches with different salts
    share no shingles across their boundary."""
    texts: list[str] = []
    vocab = np.asarray(_WORDS, dtype=object)
    for k in range(n):
        if k >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, k))] + " dup")
            continue
        words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))].tolist()
        if salt:
            words.append(salt)
        texts.append(" ".join(words))
    ids = np.arange(first_id, first_id + n)
    return {
        "doc_id": pa.array(ids.astype(np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.asarray(_LANGS, dtype=object)[rng.integers(0, len(_LANGS), n)].tolist(), pa.string()),
        "source": pa.array([f"src{k % 20}" for k in ids], pa.string()),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    }
