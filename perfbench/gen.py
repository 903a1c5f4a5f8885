"""Seeded input generators for the three benchmark workloads.

Everything here is Spark-free (numpy + pyarrow) and deterministic per
seed: the same seed gives byte-identical inputs. The program under test
only ever sees what these functions produce.

- :func:`write_tables` — a TPC-H-shaped star (region .. lineitem), an
  ``events`` table, a ``documents`` corpus and an ``embeddings`` table,
  written as parquet in the fixture schema the ``palo_spark`` catalog
  reads.
- :func:`olap_stream` — the ``olap_dashboard`` op stream: templates x
  parameters, fresh texts at a fixed share and Zipf-drawn repeats.
- :func:`ingest_batches` — the ``ingest_upsert`` stream-load micro-
  batches (overlap share, delete share, batch size).
- :func:`llm_corpus` — the ``llm_pipeline`` corpus with planted exact
  and near duplicates, plus the seeded top-k query batch.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows of the fact table; the other tables are sized from it
LINEITEM_ROWS = 60_000
EVENT_ROWS = 20_000
DOC_ROWS = 2_000
EMBED_ROWS = 2_000
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
#: stop words the quality filters look for, mixed into every document
STOP_WORDS = ["the", "and", "of", "to", "that", "with", "have", "be"]
_LETTERS = list("abcdefghijklmnopqrstuvwxyz")
#: the perplexity model's token log-probabilities, milli-nats
PPL_UNIGRAMS = {"the": -2000, "and": -2300, "of": -2400, "to": -2500,
                "that": -2900, "with": -3000, "have": -3100, "be": -3200}
PPL_BIGRAMS = {("the", "and"): -1200, ("of", "the"): -1300,
               ("to", "be"): -1400, ("that", "with"): -1600}

_EPOCH_1992 = _dt.datetime(1992, 1, 1)
_EPOCH_2024 = _dt.datetime(2024, 1, 1)


def _ms(base: _dt.datetime, offsets_ms: np.ndarray) -> pa.Array:
    base_ms = int((base - _dt.datetime(1970, 1, 1)).total_seconds() * 1000)
    return pa.array(base_ms + offsets_ms.astype(np.int64), pa.timestamp("ms"))


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Prices as whole cents / 100, so sums stay exact in any order up
    to the float mantissa."""
    return rng.integers(lo, hi, n).astype(np.float64) / 100.0


def vocabulary(rng: np.random.Generator, n: int = 2_000) -> list[str]:
    """``n`` pseudo-words of 3-9 random letters: shingle sets of two
    unrelated documents barely overlap, so MinHash buckets stay
    selective."""
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(_LETTERS, k)))
    return sorted(words)


def star_tables(seed: int) -> dict[str, pa.Table]:
    """The TPC-H-shaped star plus ``events``. Row counts scale from
    :data:`LINEITEM_ROWS` like the fixtures do (sf0.01 shape)."""
    rng = np.random.default_rng([seed, 1])
    n_li = LINEITEM_ROWS
    n_ord = n_li // 4
    n_cust, n_supp, n_part = max(n_ord // 10, 50), 100, max(n_ord // 8, 50)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -99_999, 999_999, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -99_999, 999_999, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(1, n_part + 1)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _cents(rng, 90_000, 200_000, n_part),
    })
    order_day = rng.integers(0, 2405, n_ord)  # 1992-01-01 .. 1998-08-02
    t["orders"] = pa.table({
        "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, n_cust + 1, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord, p=[0.49, 0.49, 0.02]),
        "o_totalprice": _cents(rng, 100_000, 50_000_000, n_ord),
        "o_orderdate": _ms(_EPOCH_1992, order_day * 86_400_000),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    li_order = np.sort(rng.integers(1, n_ord + 1, n_li))
    idx = np.arange(n_li)
    first = np.r_[True, li_order[1:] != li_order[:-1]]
    linenumber = (idx - np.maximum.accumulate(np.where(first, idx, 0)) + 1).astype(np.int32)
    ship_day = order_day[li_order - 1] + rng.integers(1, 122, n_li)
    flag = np.where(ship_day < 1270, rng.choice(["A", "R"], n_li), "N")
    t["lineitem"] = pa.table({
        "l_orderkey": li_order.astype(np.int64),
        "l_partkey": rng.integers(1, n_part + 1, n_li),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 90_000, 10_000_000, n_li),
        "l_discount": rng.integers(0, 11, n_li).astype(np.float64) / 100.0,
        "l_tax": rng.integers(0, 9, n_li).astype(np.float64) / 100.0,
        "l_returnflag": flag,
        "l_linestatus": np.where(ship_day < 1270, "F", "O"),
        "l_shipdate": _ms(_EPOCH_1992, ship_day * 86_400_000),
    })
    ev_off = np.sort(rng.integers(0, 30 * 86_400_000, EVENT_ROWS))
    t["events"] = pa.table({
        "event_id": np.arange(EVENT_ROWS, dtype=np.int64),
        "ts": pa.array(
            (_ms(_EPOCH_2024, ev_off).cast(pa.int64()).to_numpy() * 1000),
            pa.timestamp("us"),
        ),
        "user_id": rng.integers(0, 1_000, EVENT_ROWS),
        "event_type": rng.choice(EVENT_TYPES, EVENT_ROWS),
        "value": _cents(rng, 0, 50_000, EVENT_ROWS),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENT_ROWS)],
    })
    return t


def _doc_text(rng: np.random.Generator, vocab: list[str], n_words: int) -> str:
    """``n_words`` content words with a stop word after about one in
    five of them."""
    words = [vocab[i] for i in rng.integers(0, len(vocab), n_words)]
    stops = rng.integers(0, len(STOP_WORDS), n_words)
    for p in np.flatnonzero(rng.random(n_words) < 0.2)[::-1]:
        words.insert(int(p), STOP_WORDS[stops[p]])
    return " ".join(words)


def documents_table(seed: int, n_docs: int = DOC_ROWS) -> pa.Table:
    """``documents``: word-soup texts over a seeded pseudo-word
    vocabulary plus stop words; some are deliberately short or
    punctuation-heavy so the quality filters reject them."""
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary(rng)
    texts = []
    for _ in range(n_docs):
        r = rng.random()
        if r < 0.06:  # too short for the quality filters
            texts.append(_doc_text(rng, vocab, int(rng.integers(3, 12))))
        elif r < 0.10:  # symbol soup
            texts.append(" ".join(["#" * int(k) for k in rng.integers(1, 5, 40)]))
        else:
            texts.append(_doc_text(rng, vocab, int(rng.integers(50, 160))))
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{k}" for k in rng.integers(0, 4, n_docs)],
        "n_chars": np.array([len(x) for x in texts], np.int64),
    })


def embeddings_table(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    vecs = rng.standard_normal((EMBED_ROWS, EMBED_DIM)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(EMBED_ROWS, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, EMBED_ROWS), pa.int32()),
    })


def write_tables(seed: int, out_dir: str) -> dict[str, str]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns the
    paths by table name."""
    os.makedirs(out_dir, exist_ok=True)
    tables = star_tables(seed)
    tables["documents"] = documents_table(seed)
    tables["embeddings"] = embeddings_table(seed)
    paths = {}
    for name, tbl in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    return paths


# ------------------------------------------------------------ olap

#: (template name, Doris-dialect SQL, the same query for the DuckDB
#: oracle when it differs, parameter grid, warm-up parameters outside the
#: grid). ``{}`` slots take the parameters in order.
#: Prices are whole cents, so sums differ between engines only by float
#: summation order. ``tpch_q1`` is answered from the sync rollup and
#: ``balance_mv`` from the async MV built at set-up; ``docs_match`` takes
#: the inverted-index route.
OLAP_TEMPLATES: list[tuple[str, str, str | None, list[tuple], tuple]] = [
    ("tpch_q1",
     "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
     "SUM(l_extendedprice) AS sum_base, COUNT(*) AS count_order "
     "FROM lineitem WHERE l_shipdate <= '{}' GROUP BY l_returnflag, l_linestatus",
     None,
     [(d,) for d in ("1998-08-03", "1998-08-18", "1998-09-02", "1998-09-17",
                     "1998-10-02")],
     ("1990-01-01",)),
    ("tpch_q3",
     "SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue, "
     "o_orderdate FROM customer JOIN orders ON c_custkey = o_custkey "
     "JOIN lineitem ON l_orderkey = o_orderkey WHERE c_mktsegment = '{}' "
     "AND o_orderdate < '{}' AND l_shipdate > '{}' "
     "GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, o_orderdate, "
     "l_orderkey LIMIT 10",
     None,
     [(s, d, d) for s in SEGMENTS for d in ("1995-03-15", "1996-06-01")],
     ("AUTOMOBILE", "1994-01-01", "1994-01-01")),
    ("tpch_q5",
     "SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue "
     "FROM customer JOIN orders ON c_custkey = o_custkey "
     "JOIN lineitem ON l_orderkey = o_orderkey "
     "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
     "JOIN nation ON s_nationkey = n_nationkey "
     "JOIN region ON n_regionkey = r_regionkey "
     "WHERE r_name = '{}' AND YEAR(o_orderdate) = {} "
     "GROUP BY n_name ORDER BY revenue DESC, n_name",
     None,
     [(r, y) for r in REGIONS for y in (1994, 1995, 1996)],
     ("AFRICA", 1993)),
    ("tpch_q6",
     "SELECT SUM(l_extendedprice * l_discount) AS revenue, COUNT(*) AS n "
     "FROM lineitem WHERE YEAR(l_shipdate) = {} "
     "AND l_discount BETWEEN {} AND {} AND l_quantity < 24",
     None,
     [(y, round(d - 0.01, 2), round(d + 0.01, 2)) for y in (1993, 1994, 1995, 1996)
      for d in (0.03, 0.05, 0.07)],
     (1997, 0.02, 0.04)),
    ("ssb_flight1",
     "SELECT SUM(l_extendedprice * l_discount) AS revenue "
     "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
     "WHERE YEAR(o_orderdate) = {} AND l_discount BETWEEN {} AND {} "
     "AND l_quantity < {}",
     None,
     [(y, lo, round(lo + 0.02, 2), q) for y in (1993, 1994, 1995, 1996, 1997)
      for lo, q in ((0.01, 25), (0.04, 35))],
     (1998, 0.01, 0.03, 25)),
    ("ssb_flight2",
     "SELECT YEAR(o_orderdate) AS d_year, p_brand, "
     "SUM(l_extendedprice * (1 - l_discount)) AS revenue "
     "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
     "JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey "
     "JOIN nation ON s_nationkey = n_nationkey "
     "JOIN region ON n_regionkey = r_regionkey "
     "WHERE p_type = '{}' AND r_name = '{}' "
     "GROUP BY YEAR(o_orderdate), p_brand ORDER BY d_year, p_brand",
     None,
     [(t, r) for t in ("PROMO", "SMALL", "STANDARD") for r in REGIONS[:4]],
     ("ECONOMY", "AFRICA")),
    ("events_users",
     "SELECT event_type, DATE(ts) AS d, COUNT(DISTINCT user_id) AS users "
     "FROM events WHERE ts >= '{}' AND ts < '{}' "
     "GROUP BY event_type, DATE(ts) ORDER BY event_type, d",
     "SELECT event_type, CAST(ts AS DATE) AS d, COUNT(DISTINCT user_id) AS users "
     "FROM events WHERE ts >= '{}' AND ts < '{}' "
     "GROUP BY event_type, CAST(ts AS DATE) ORDER BY event_type, d",
     [(f"2024-01-{a:02d}", f"2024-01-{a + n:02d}")
      for a in (1, 8, 15) for n in (3, 7)],
     ("2024-01-20", "2024-01-22")),
    ("docs_match",
     "SELECT doc_id FROM docs WHERE `text` MATCH_ANY '{} {}' ORDER BY doc_id",
     "SELECT doc_id FROM docs WHERE list_has_any("
     "string_split_regex(trim(lower(text)), '\\s+'), ['{}', '{}']) ORDER BY doc_id",
     [(i, j) for i in range(4) for j in range(4, 8)],
     (0, 1)),
    ("balance_mv",
     "SELECT c_mktsegment, SUM(bal_cents) AS bal_cents, COUNT(*) AS n "
     "FROM cust WHERE c_nationkey < {} GROUP BY c_mktsegment",
     None,
     [(k,) for k in (5, 10, 15, 20, 25)],
     (0,)),
]

#: set-up DDL of ``olap_dashboard``: the session tables the index and
#: the async MV need, the inverted index, one sync rollup (RollupCatalog)
#: and one async MV
OLAP_DDL = [
    "CREATE TABLE docs AS SELECT doc_id, text FROM documents",
    "CREATE INDEX docs_text ON docs (text) USING INVERTED",
    "CREATE MATERIALIZED VIEW li_flags_daily AS SELECT l_returnflag, "
    "l_linestatus, l_shipdate, SUM(l_quantity), SUM(l_extendedprice), COUNT(*) "
    "FROM lineitem GROUP BY l_returnflag, l_linestatus, l_shipdate",
    "CREATE TABLE cust AS SELECT c_custkey, c_nationkey, c_mktsegment, "
    "CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS bal_cents FROM customer",
    "CREATE MATERIALIZED VIEW cust_bal_mv BUILD IMMEDIATE REFRESH COMPLETE "
    "ON MANUAL AS SELECT c_nationkey, c_mktsegment, SUM(bal_cents) AS bal_cents, "
    "COUNT(*) AS n FROM cust GROUP BY c_nationkey, c_mktsegment",
]

#: the same session tables for the DuckDB oracle
OLAP_ORACLE_VIEWS = [
    "CREATE VIEW docs AS SELECT doc_id, text FROM documents",
    "CREATE VIEW cust AS SELECT c_custkey, c_nationkey, c_mktsegment, "
    "CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS bal_cents FROM customer",
]


def match_terms(seed: int) -> list[str]:
    """The eight words ``docs_match`` parameters index into."""
    vocab = vocabulary(np.random.default_rng([seed, 2]))
    return vocab[::250][:8]


def olap_grid(seed: int) -> list[tuple[str, str, str]]:
    """Every distinct (template, Doris SQL, DuckDB SQL) the op stream
    can issue."""
    terms = match_terms(seed)
    grid = []
    for name, sql, oracle, params, _ in OLAP_TEMPLATES:
        for p in params:
            if name == "docs_match":
                p = (terms[p[0]], terms[p[1]])
            grid.append((name, sql.format(*p), (oracle or sql).format(*p)))
    return grid


def olap_warmup(seed: int) -> list[str]:
    """One query per template with its warm-up parameters, outside the
    grid: warm-up absorbs every plan's first-call cost without filling
    the result cache with a text the stream will ask."""
    terms = match_terms(seed)
    out = []
    for name, sql, _, _, p in OLAP_TEMPLATES:
        if name == "docs_match":
            p = (terms[p[0]], terms[p[1]])
        out.append(sql.format(*p))
    return out


# Like the ingest traffic below, the dashboard mix is a fixed policy with
# no measured traffic behind it.

#: per template and cycle: one op issues a new text (a result-cache
#: miss), the others repeat one of the template's earlier texts (hits).
#: Must keep the miss share off 1/2 (the seam rule); 3 gives 1/3.
FRESH_EVERY = 3
#: Zipf exponent of the repeats over issue order. Any exponent > 0 keeps
#: the property that matters: repeats are skewed toward the first texts.
#: It does not set the hit share: every issued text fits the result
#: cache, so every repeat hits whatever texts are drawn.
ZIPF_S = 1.1


def olap_stream(seed: int) -> list[tuple[str, str, str]]:
    """The op stream, in cycles of ``FRESH_EVERY * len(OLAP_TEMPLATES)``
    ops. Each cycle holds, for every template, one op that issues the
    template's next unissued text (parameters in a seeded order) and
    ``FRESH_EVERY - 1`` ops that repeat one of its issued texts, drawn
    Zipf(:data:`ZIPF_S`) over issue order (the first dashboards are the most
    popular); the slots are shuffled per cycle, a template's new text
    first. Every cycle thus has the same template and hit/miss mix: the
    miss share is 1/3, so the median never sits at the hit/miss seam,
    and runs of any whole number of cycles measure the same mix. The
    stream ends when a template's grid is used up."""
    rng = np.random.default_rng([seed, 4])
    by_t: dict[str, list[tuple[str, str, str]]] = {}
    for g in olap_grid(seed):
        by_t.setdefault(g[0], []).append(g)
    fresh = {n: [gs[i] for i in rng.permutation(len(gs))] for n, gs in by_t.items()}
    issued: dict[str, list] = {n: [] for n in by_t}
    names = [name for name, *_ in OLAP_TEMPLATES]
    out = []
    while all(fresh.values()):
        slots = [str(n) for n in rng.permutation(names * FRESH_EVERY)]
        seen: set[str] = set()
        for n in slots:
            if n not in seen:
                seen.add(n)
                issued[n].append(fresh[n].pop())
                out.append(issued[n][-1])
            else:
                w = 1.0 / np.arange(1, len(issued[n]) + 1) ** ZIPF_S
                out.append(issued[n][int(rng.choice(len(issued[n]), p=w / w.sum()))])
    return out


# ------------------------------------------------------------ ingest

# The ingest traffic is a fixed policy, not a sample of measured Palo/Doris
# traffic: no public source gives batch sizes, upsert or delete shares for
# a stream-load workload. Each value is held for the property noted beside
# it; change one and the workload measures something else.

#: rows per stream load: large enough that a load is a real write
#: (hundreds of rows per rowset file), small enough that a run makes
#: 30-40 commits, so rowsets pile up and several compactions happen
INGEST_BATCH_ROWS = 400
#: share of a batch that re-writes keys an earlier batch wrote: > 0, so
#: true upserts happen and merge-on-read has versions to resolve
INGEST_OVERLAP = 0.3
#: share of a MERGE load's rows that delete their key: > 0, so the MERGE
#: path and delete markers run; small, so the table keeps growing
INGEST_DELETE_SHARE = 0.05
#: every this many commits: one MERGE load (deletes), and Table.compact
#: after that commit. One constant keeps the two aligned, so every
#: compaction folds in exactly one delete load and the rowset count per
#: read cycles 1..MERGE_EVERY.
MERGE_EVERY = 4
#: the MERGE loads' delete condition over the batch columns
DELETE_ON = "l_quantity < 0"
#: (column, Doris DDL type, arrow type) of the ingest rows, keyed by
#: :data:`INGEST_KEY`. The batches, the DDL, the Spark schema, the read
#: SQL and the replay oracle are all derived from this one list.
INGEST_SCHEMA = (
    ("l_orderkey", "BIGINT", pa.int64()),
    ("l_linenumber", "INT", pa.int32()),
    ("l_partkey", "BIGINT", pa.int64()),
    ("l_quantity", "DOUBLE", pa.float64()),
    ("l_extendedprice", "DOUBLE", pa.float64()),
    ("l_discount", "DOUBLE", pa.float64()),
    ("l_returnflag", "VARCHAR(1)", pa.string()),
)
INGEST_COLUMNS = tuple(c for c, _, _ in INGEST_SCHEMA)
INGEST_KEY = ("l_orderkey", "l_linenumber")
INGEST_VALUES = INGEST_COLUMNS[len(INGEST_KEY):]
assert INGEST_COLUMNS[:len(INGEST_KEY)] == INGEST_KEY


def ingest_ddl(table: str) -> str:
    """The UNIQUE KEY table the loads go into."""
    cols = ", ".join(f"{c} {t}" for c, t, _ in INGEST_SCHEMA)
    return (f"CREATE TABLE {table} ({cols}) UNIQUE KEY({', '.join(INGEST_KEY)}) "
            f"DISTRIBUTED BY HASH({INGEST_KEY[0]}) BUCKETS 4")


def ingest_spark_schema() -> str:
    """The batches' Spark schema string (Doris VARCHAR(n) is a Spark
    STRING)."""
    return ", ".join(f"{c} {'STRING' if t.startswith('VARCHAR') else t}"
                     for c, t, _ in INGEST_SCHEMA)


def ingest_batches(seed: int, n_batches: int) -> list[dict]:
    """Stream-load micro-batches of lineitem-shaped rows keyed by
    (l_orderkey, l_linenumber).

    Each batch is :data:`INGEST_BATCH_ROWS` key-unique rows: an
    :data:`INGEST_OVERLAP` share re-writes keys some earlier batch wrote
    (true upserts), the rest are new keys. Every :data:`MERGE_EVERY`-th
    batch is a MERGE load in which a :data:`INGEST_DELETE_SHARE` of its
    (earlier) keys carry ``l_quantity = -1``, the load's delete condition
    (:data:`DELETE_ON`). Returns ``[{"label", "merge", "rows": pa.Table}]``.
    """
    rng = np.random.default_rng([seed, 5])
    schema = pa.schema([(c, t) for c, _, t in INGEST_SCHEMA])
    next_key = 1
    written: list[int] = []
    out = []
    for b in range(n_batches):
        n_old = int(INGEST_BATCH_ROWS * INGEST_OVERLAP) if written else 0
        old = (rng.choice(np.asarray(written), n_old, replace=False)
               if n_old else np.zeros(0, np.int64))
        new = np.arange(next_key, next_key + INGEST_BATCH_ROWS - n_old)
        next_key += len(new)
        written.extend(new.tolist())
        keys = np.concatenate([old, new]).astype(np.int64)
        merge = b % MERGE_EVERY == MERGE_EVERY - 1
        n = len(keys)
        qty = rng.integers(1, 51, n).astype(np.float64)
        if merge:
            qty[: int(n * INGEST_DELETE_SHARE)] = -1.0  # earlier keys only
        out.append({
            "label": f"load_{seed}_{b}",
            "merge": merge,
            "rows": pa.table({
                "l_orderkey": keys // 8,
                "l_linenumber": keys % 8,
                "l_partkey": rng.integers(1, 2_000, n),
                "l_quantity": qty,
                "l_extendedprice": _cents(rng, 90_000, 10_000_000, n),
                "l_discount": rng.integers(0, 11, n).astype(np.float64) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n),
            }, schema=schema),
        })
    return out


def replay(batches: list[dict], state: dict | None = None) -> dict[tuple[int, int], tuple]:
    """Independent model of the UNIQUE-key table after ``batches``:
    the last label wins per key and a MERGE row matching
    :data:`DELETE_ON` removes its key. ``state`` (updated in place)
    continues an earlier replay."""
    state = {} if state is None else state
    for b in batches:
        cols = b["rows"].to_pydict()
        for i in range(len(cols["l_orderkey"])):
            key = tuple(cols[c][i] for c in INGEST_KEY)
            if b["merge"] and cols["l_quantity"][i] < 0:
                state.pop(key, None)
            else:
                state[key] = tuple(cols[c][i] for c in INGEST_VALUES)
    return state


# ------------------------------------------------------------ llm

def llm_corpus(seed: int, n_docs: int = DOC_ROWS, n_exact: int = 50,
               n_near: int = 50):
    """The ``documents`` corpus plus planted duplicates.

    Exact duplicates copy a source document with whitespace changes
    only (same normalized content hash); near duplicates copy a
    source and replace one content word (shingle Jaccard well above
    0.8). Planted rows get ids past the originals, so the lowest-id
    survivor rule keeps the source. Returns ``(table, planted)`` where
    planted maps each planted id to ``("exact"|"near", source id)``.
    """
    base = documents_table(seed, n_docs)
    rng = np.random.default_rng([seed, 6])
    texts = base.column("text").to_pylist()
    good = [i for i, t in enumerate(texts) if len(t.split()) >= 80]
    src = rng.choice(good, n_exact + n_near, replace=False)
    vocab = vocabulary(np.random.default_rng([seed, 2]))
    planted: dict[int, tuple[str, int]] = {}
    new_texts = []
    for j, s in enumerate(src):
        words = texts[s].split()
        if j < n_exact:
            kind = "exact"
            t = "  ".join(words) if j % 2 else " " + " ".join(words) + "  "
        else:
            kind = "near"
            k = int(rng.integers(len(words)))
            words[k] = str(rng.choice(vocab))
            t = " ".join(words)
        planted[n_docs + j] = (kind, int(s))
        new_texts.append(t)
    n = len(new_texts)
    extra = pa.table({
        "doc_id": np.arange(n_docs, n_docs + n, dtype=np.int64),
        "text": new_texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{k}" for k in rng.integers(0, 4, n)],
        "n_chars": np.array([len(x) for x in new_texts], np.int64),
    })
    return pa.concat_tables([base, extra]), planted


def topk_queries(seed: int, n: int) -> np.ndarray:
    """``n`` seeded query vectors for the top-k stage."""
    return np.random.default_rng([seed, 7]).standard_normal(
        (n, EMBED_DIM)
    ).astype(np.float32)
