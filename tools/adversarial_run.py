"""Adversarial-content evidence: the full oracle comparator over a DIRTY
corpus.

The sf* fixtures are clean — every document non-empty ASCII, every
embedding a well-conditioned 64-dim vector. A real 100 TB corpus is not:
it contains empty and whitespace-only documents, CJK/emoji/combining
unicode, regex metacharacters, kilotoken pathological repeats, NULL
fields from upstream extraction failures, and zero/degenerate vectors.
Cross-engine parity on THAT data is where Spark-vs-DuckDB semantic
divergence actually lives (null propagation through split/explode,
0/0 arithmetic, unicode length semantics, regex dialects) — a query
family can be hash-green on every clean fixture and still disagree with
its oracle on the first dirty shard of production data.

This tool builds a deterministic dirty corpus in a scratch dir (the
sf0.001 tables, with `documents` extended by adversarial rows and
`embeddings` extended by degenerate vectors), then runs drive_entry's
`compare` over it: every registered query, Spark vs DuckDB on the same
files under the one comparison rule, and every rows-only query must at
least run without raising. Queries that never touch the dirty tables
re-verify unchanged — the run doubles as one more full-comparator geometry.

Usage:
    python tools/adversarial_run.py [--docs-only] [--keep] [--only name...]

Contract boundaries the corpus deliberately respects (documented, not
dodged): doc_id/vec_id stay unique and non-null (they are join keys —
upstream assigns them), `n_chars` stays consistent with `text` (it is a
derived column), embeddings stay 64-dim (the pipeline's fixed model
width), and no NaN literals are injected (NaN != NaN breaks EVERY
engine's group/join semantics identically — upstream ingestion must
drop them; a NaN-tolerant comparator would only hide that requirement).
Everything else — empties, nulls in text/lang/source, unicode, zero and
huge and tiny vectors, exact-duplicate vectors (top-k tie stress) — is
fair game.
"""
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from sqload_spark import registry  # noqa: E402
from sqload_spark.session import scratch_dir  # noqa: E402
from sqload_spark.sources.tables import TABLE_NAMES  # noqa: E402

BASE = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# Adversarial documents: appended after the 500 clean sf0.001 rows with
# doc_ids from 100000 (collision-free). Every row is a named hazard.
# ---------------------------------------------------------------------------
ADVERSARIAL_DOCS = [
    # (doc_id, text, lang, source)  — n_chars derived below
    (100000, "", "en", "srcA"),                          # empty string
    (100001, " ", "en", "srcA"),                         # single space
    (100002, "\t\n  \n", "en", "srcA"),                  # whitespace-only
    (100003, "a", "en", "srcA"),                         # single char
    (100004, "spark " * 1000, "en", "srcB"),             # 1000x repeated token
    (100005, "数据 处理 系统 数据 处理 引擎", "zh", "srcB"),  # CJK
    (100006, "🚀 🚀 data 🚀 pipeline 🚀", "en", "srcB"),  # emoji (non-BMP)
    (100007, "café café naïve résumé", "fr", "srcB"),    # combining accents
    (100008, "!!! ??? ... ;;; :::", "en", "srcC"),       # punctuation-only
    (100009, "123 456 789 000 111", "en", "srcC"),       # digits-only
    (100010, "line1\nline2\nline3\nline4", "en", "srcC"),  # embedded newlines
    (100011, "tab\tseparated\ttokens\there", "en", "srcC"),  # embedded tabs
    (100012, "SPARK Spark spark sPaRk", "en", "srcD"),   # case variants
    (100013, "a.b*c(d)e[f]g{h}i|j+k?l^m$n", "en", "srcD"),  # regex metachars
    (100014, "quote\"mixed'back`tick", "en", "srcD"),    # quote chars
    (100015, "comma,semi;colon:dash-slash/", "en", "srcD"),  # csv-hostile
    (100016, ("lorem ipsum dolor sit amet " * 2000).strip(), "en", "srcE"),  # ~54 KB doc
    (100017, "word", None, "srcE"),                      # NULL lang
    (100018, "word word", "en", None),                   # NULL source
    (100019, None, "en", "srcE"),                        # NULL text
    (100020, "ünïcödé länge tëst ünïcödé", "de", "srcE"),  # latin-1 diacritics
    (100021, "x y " * 5000, "en", "srcE"),               # 10k tiny tokens
    # high-DIVERSITY long doc (round 7): every token distinct. The three
    # long docs above are all low-diversity (2-5 distinct tokens), which
    # left the O(distinct × n) class of per-doc blowups unexercised — the
    # gopher dominance rule's transform+filter form cost 12 s on one such
    # doc and this corpus never noticed. Now any rule whose per-doc cost
    # carries a distinct-count factor pays it here, in-gate.
    (100022, " ".join(f"v{i}" for i in range(8000)), "en", "srcE"),
]

# Adversarial events: event_ids from 100000. The ingestion-shaped hazards
# of a real event stream: NULL dimensions (failed enrichment), malformed
# and shape-shifting JSON props, empty/unicode event types, negative and
# huge values, exact window-boundary and tied timestamps, and epoch
# outliers that stress watermark/date logic.
ADVERSARIAL_EVENTS = [
    # (event_id, ts, user_id, event_type, value, props)
    (100000, "2024-01-15 00:00:00.000000", 3, "click", 1.0, '{"k": 1}'),      # exact 10-min boundary
    (100001, "2024-01-15 00:10:00.000000", 3, "click", 1.0, '{"k": 2}'),      # next boundary, same user
    (100002, "2024-01-15 00:10:00.000000", 3, "view", 2.0, '{"k": 3}'),       # tied ts, same user
    (100003, "2024-01-15 00:10:00.000000", 4, "click", 2.0, '{"k": 4}'),      # tied ts, other user
    (100004, "2024-01-16 12:00:00.000000", None, "click", 1.5, '{"k": 5}'),   # NULL user
    (100005, "2024-01-16 12:01:00.000000", 5, None, 1.5, '{"k": 6}'),         # NULL type
    (100006, "2024-01-16 12:02:00.000000", 5, "", 1.5, '{"k": 7}'),           # empty type
    (100007, "2024-01-16 12:03:00.000000", 5, "点击", 1.5, '{"k": 8}'),        # unicode type
    (100008, "2024-01-17 08:00:00.000000", 6, "click", None, '{"k": 9}'),     # NULL value
    (100009, "2024-01-17 08:01:00.000000", 6, "click", -50.0, '{"k": 10}'),   # negative value
    (100010, "2024-01-17 08:02:00.000000", 6, "click", 0.0, '{"k": 11}'),     # zero value
    (100011, "2024-01-18 09:00:00.000000", 7, "click", 3.0, None),            # NULL props
    (100012, "2024-01-18 09:01:00.000000", 7, "click", 3.0, "{not json"),     # malformed JSON
    (100013, "2024-01-18 09:02:00.000000", 7, "click", 3.0, "[]"),            # JSON array, not object
    (100014, "2024-01-18 09:03:00.000000", 7, "click", 3.0, "{}"),            # missing key
    (100015, "2024-01-18 09:04:00.000000", 7, "click", 3.0, '{"k": "str"}'),  # wrong value type
    (100016, "2024-01-18 09:05:00.000000", 7, "click", 3.0, '{"k": {"a": 1}}'),  # nested value
    (100017, "2024-01-02 23:59:59.999999", 8, "click", 4.0, '{"k": 12}'),     # day-boundary micros
]

# ---------------------------------------------------------------------------
# Part 3: adversarial TPC-H fact rows. A real warehouse feed carries NULL
# dimensions from failed enrichment, dangling foreign keys, case-variant and
# unicode categorical values, LIKE-hostile pattern metacharacters, boundary /
# epoch / far-future dates, exact ties on window sort keys, and full-row
# duplicates. region/nation stay CLEAN by contract — they are constant
# validated dimension tables (5/25 rows), not feeds. Primary keys stay unique
# and non-NULL (upstream assigns them); FK columns are fair game.
#
# Money/quantity hazards are bounded by the same kind of domain contract the
# embedding family got in part 1: |money| <= 1e7, quantity <= 1e6. The
# comparator's 2-decimal rounded double sums need ~10 significant digits at
# that scale (double carries ~15-16), so order-of-summation ulp noise cannot
# flip a rounding; an unbounded 1e300 would — exactness needs a bounded
# domain, stated and enforced, not silently assumed.
# ---------------------------------------------------------------------------
ADVERSARIAL_CUSTOMERS = [
    # (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
    (100000, None, 3, 100.0, "BUILDING"),          # NULL name
    (100001, "", 3, 100.0, "BUILDING"),            # empty name
    (100002, "Çüstömer 顧客", 3, 50.0, "BUILDING"),  # unicode name
    (100003, "cust-null-bal", 3, None, "BUILDING"),   # NULL acctbal
    (100004, "cust-neg-bal", 3, -999.99, "BUILDING"),  # negative acctbal
    (100005, "cust-zero-bal", 3, 0.0, "BUILDING"),     # zero acctbal
    (100006, "cust-big-bal", 3, 9.9e6, "AUTOMOBILE"),  # huge-but-bounded
    (100007, "cust-null-seg", 3, 10.0, None),      # NULL segment (group key)
    (100008, "cust-empty-seg", 3, 10.0, ""),       # empty segment
    (100009, "cust-case-seg", 3, 10.0, "building"),  # case variant
    (100010, "cust-null-nation", None, 10.0, "BUILDING"),   # NULL FK
    (100011, "cust-dangling-nation", 999, 10.0, "BUILDING"),  # dangling FK
]

ADVERSARIAL_ORDERS = [
    # (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
    #  o_orderpriority)
    (1000000, None, "O", 100.0, "1995-06-01 00:00:00", "1-URGENT"),       # NULL custkey
    (1000001, 99999999, "O", 100.0, "1995-06-01 00:00:00", "1-URGENT"),   # dangling custkey
    (1000002, 100000, "O", None, "1995-06-01 00:00:00", "1-URGENT"),      # NULL totalprice (window sort key)
    (1000003, 100000, "O", -500.0, "1995-06-02 00:00:00", "2-HIGH"),      # negative price
    (1000004, 100000, "O", 0.0, "1995-06-03 00:00:00", "3-MEDIUM"),       # zero price
    (1000005, 100001, "O", 123.45, "1995-06-04 00:00:00", None),          # NULL priority (group key)
    (1000006, 100001, "O", 123.45, "1995-06-04 00:00:00", ""),            # empty priority
    (1000007, 100001, "O", 123.45, "1995-06-04 00:00:00", "9-急"),         # unicode priority
    (1000008, 100002, None, 50.0, "1995-06-05 00:00:00", "1-URGENT"),     # NULL status
    (1000009, 100002, "O", 50.0, None, "1-URGENT"),                       # NULL orderdate (range filter + ASC sort key)
    (1000010, 100002, "O", 50.0, "1970-01-01 00:00:00", "1-URGENT"),      # epoch date
    (1000011, 100002, "O", 50.0, "9999-12-31 00:00:00", "1-URGENT"),      # far-future date
    (1000012, 1, "O", 777.77, "1995-07-01 00:00:00", "5-LOW"),            # exact tie pair on a
    (1000013, 1, "O", 777.77, "1995-07-01 00:00:00", "5-LOW"),            #   clean customer
    (1000014, 1, "O", 9.9e6, "1995-07-02 00:00:00", "5-LOW"),             # huge-but-bounded price
    # -- hazards INSIDE the query filter ranges (post-commit review: the
    # NULL-date/price rows above carry custkeys 100000+, which every
    # windowed orders query filters out (o_custkey <= 50/100/300), so the
    # NULLS-LAST fixes were never actually exercised by the dirty run.
    # These low-custkey rows put a NULL sort key inside EVERY window. --
    (1000015, 7, "O", None, "1995-08-01 00:00:00", "1-URGENT"),           # NULL totalprice, custkey<=50
    (1000016, 7, "O", 55.5, None, "2-HIGH"),                              # NULL orderdate, custkey<=50
    (1000017, 7, "", 66.6, "1995-08-02 00:00:00", "3-MEDIUM"),            # EMPTY status, custkey<=50 (hive collapse)
    (1000018, 8, "O", 77.7, "1995-08-03 00:00:00", None),                 # NULL priority (window partition key), custkey<=50
]

ADVERSARIAL_LINEITEMS = [
    # (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
    #  l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
    #  l_shipdate)
    (1000000, 1, 1, 1, None, 100.0, 0.05, 0.02, "N", "O", "1995-06-10 00:00:00"),   # NULL quantity
    (1000000, 1, 1, 2, -5.0, 100.0, 0.05, 0.02, "N", "O", "1995-06-10 00:00:00"),   # negative quantity
    (1000000, 1, 1, 3, 0.0, 100.0, 0.05, 0.02, "N", "O", "1995-06-10 00:00:00"),    # zero quantity
    (1000000, 1, 1, 4, 1e6, 9.9e6, 0.05, 0.02, "N", "O", "1995-06-10 00:00:00"),    # huge-but-bounded
    (1000001, 1, 1, 1, 10.0, None, 0.05, 0.02, "N", "O", "1995-06-11 00:00:00"),    # NULL price
    (1000001, 1, 1, 2, 10.0, 100.0, None, 0.02, "N", "O", "1995-06-11 00:00:00"),   # NULL discount
    (1000001, 1, 1, 3, 10.0, 100.0, 1.0, 0.02, "N", "O", "1995-06-11 00:00:00"),    # discount=1 → zero revenue
    (1000001, 1, 1, 4, 10.0, 100.0, 1.5, 0.02, "N", "O", "1995-06-11 00:00:00"),    # discount>1 → negative revenue
    (1000002, 1, 1, 1, 10.0, 100.0, 0.05, None, "N", "O", "1995-06-12 00:00:00"),   # NULL tax
    (1000002, 1, 1, 2, 10.0, 100.0, 0.05, 0.02, None, "O", "1995-06-12 00:00:00"),  # NULL returnflag (group key)
    (1000002, 1, 1, 3, 10.0, 100.0, 0.05, 0.02, "", "O", "1995-06-12 00:00:00"),    # empty returnflag
    (1000002, 1, 1, 4, 10.0, 100.0, 0.05, 0.02, "Ř", "Ø", "1995-06-12 00:00:00"),   # unicode flag/status
    (1000003, 1, 1, 1, 10.0, 100.0, 0.05, 0.02, "N", None, "1995-06-13 00:00:00"),  # NULL linestatus
    (1000003, 1, 1, 2, 10.0, 100.0, 0.05, 0.02, "N", "O", None),                    # NULL shipdate (ASC sort key)
    (1000003, 1, 1, 3, 10.0, 100.0, 0.05, 0.02, "N", "O", "1970-01-01 00:00:00"),   # epoch shipdate
    (1000003, 1, 1, 4, 10.0, 100.0, 0.05, 0.02, "N", "O", "9999-12-31 00:00:00"),   # far-future shipdate
    (1000004, None, 1, 1, 10.0, 100.0, 0.05, 0.02, "N", "O", "1995-06-14 00:00:00"),       # NULL partkey
    (1000004, 99999999, 1, 2, 10.0, 100.0, 0.05, 0.02, "N", "O", "1995-06-14 00:00:00"),   # dangling partkey
    (1000004, 1, None, 3, 10.0, 100.0, 0.05, 0.02, "N", "O", "1995-06-14 00:00:00"),       # NULL suppkey
    (1000004, 1, 99999, 4, 10.0, 100.0, 0.05, 0.02, "N", "O", "1995-06-14 00:00:00"),      # dangling suppkey
    (1, 2, 1, 99, 7.0, 70.0, 0.03, 0.01, "A", "F", "1994-01-01 00:00:00"),   # full-row duplicate
    (1, 2, 1, 99, 7.0, 70.0, 0.03, 0.01, "A", "F", "1994-01-01 00:00:00"),   #   pair (distinct stress)
]

ADVERSARIAL_PARTS = [
    # (p_partkey, p_name, p_brand, p_type, p_size, p_retailprice)
    (100000, None, "Brand#13", "STANDARD ANODIZED", 10, 100.0),      # NULL name (LIKE filters)
    (100001, "", "Brand#13", "STANDARD ANODIZED", 10, 100.0),        # empty name
    (100002, "bright red metallic", "Brand#13", "STANDARD", 10, 100.0),  # matches %red%
    (100003, "infrared sensor", "Brand#13", "STANDARD", 10, 100.0),      # 'red' inside a word
    (100004, "r%ed_percent[lit]", "Brand#13", "STANDARD", 10, 100.0),    # metachars; must NOT match %red%
    (100005, "small anchor", "Brand#13", "STANDARD", 10, 100.0),         # matches small%
    (100006, "smallish 小 part", "Brand#13", "STANDARD", 10, 100.0),      # unicode + small% prefix
    (100007, "red小%part", None, None, None, None),                   # NULL brand/type/size/price
    (100008, "negative size", "Brand#99", "", -5, -10.0),            # empty type, negative size/price
    (100009, "huge size", "Brand#99", "PROMO BRUSHED", 2147483647, 9.9e6),  # max-int size, PROMO% type
]

ADVERSARIAL_SUPPLIERS = [
    # (s_suppkey, s_name, s_nationkey, s_acctbal)
    (100, None, 3, 100.0),                  # NULL name
    (101, "Süpplier 供应商", 3, -50.0),      # unicode name, negative balance
    (102, "supp-null-nation", None, 10.0),  # NULL FK
    (103, "supp-dangling", 999, 10.0),      # dangling FK
    (104, "supp-null-bal", 3, None),        # NULL acctbal
]

# Adversarial embeddings: vec_ids from 100000, 64-dim each.
DIM = 64


def _adversarial_embeddings():
    rows = []
    rows.append((100000, [0.0] * DIM, 0))                      # zero vector
    rows.append((100001, [1e-30] * DIM, 1))                    # denormal-tiny
    rows.append((100002, [1e15] * DIM, 2))                     # huge magnitude
    rows.append((100003, [-1.0] * DIM, 3))                     # all-negative
    base = [((i * 37 + 11) % 97 - 48) / 97.0 for i in range(DIM)]
    rows.append((100004, base, 4))                             # deterministic
    rows.append((100005, list(base), 4))                       # EXACT duplicate (tie stress)
    rows.append((100006, [1.0] + [0.0] * (DIM - 1), 5))        # one-hot
    rows.append((100007, None, 5))                             # NULL embedding
    return rows


_TPCH_ADV = {
    "customer": ADVERSARIAL_CUSTOMERS,
    "orders": ADVERSARIAL_ORDERS,
    "lineitem": ADVERSARIAL_LINEITEMS,
    "part": ADVERSARIAL_PARTS,
    "supplier": ADVERSARIAL_SUPPLIERS,
}


# Every table with hazard rows: the clean TPC-H feeds plus the corpus
# tables. `documents` derives its n_chars column from text on the way in.
_ADV_TABLES = {
    "documents": ADVERSARIAL_DOCS,
    "events": ADVERSARIAL_EVENTS,
    "embeddings": _adversarial_embeddings(),
    **_TPCH_ADV,
}
_STAGED = {"documents": "doc_id, text, lang, source"}
_DERIVED = {"documents": "doc_id, text, lang, source, length(text) AS n_chars"}


def _append_rows(src: str, dst: str, rows: list, cols: str = "*", select: str = "*") -> None:
    """Write src ∪ hazard-rows to dst, preserving the parquet schema: the
    rows are staged in a table typed by src's own ``cols``."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE adv AS SELECT {cols} FROM read_parquet('{src}') LIMIT 0")
    ph = ", ".join("?" for _ in rows[0])
    con.executemany(f"INSERT INTO adv VALUES ({ph})", rows)
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{src}') UNION ALL SELECT {select} FROM adv)"
        f" TO '{dst}' (FORMAT PARQUET)"
    )
    con.close()


def build_corpus(docs_only: bool, keep: bool = False) -> str:
    # --keep must bypass scratch_dir: its atexit rmtree would delete the
    # corpus at process exit, exactly when a follow-up run (e.g.
    # `tools/drive_entry.py --sf-dir <corpus>` with geometry flags, for
    # dirty-data × geometry evidence) wants to read it.
    if keep:
        import tempfile

        out = tempfile.mkdtemp(prefix="sqload_adversarial_keep_")
    else:
        out = scratch_dir("sqload_adversarial_")
    for t in TABLE_NAMES:
        src, dst = f"{BASE}/{t}.parquet", f"{out}/{t}.parquet"
        if t in _ADV_TABLES and (t == "documents" or not docs_only):
            _append_rows(src, dst, _ADV_TABLES[t], _STAGED.get(t, "*"), _DERIVED.get(t, "*"))
        else:
            shutil.copyfile(src, dst)
    return out


def main() -> int:
    docs_only = "--docs-only" in sys.argv
    only: list[str] = []
    if "--only" in sys.argv:
        only = [a for a in sys.argv[sys.argv.index("--only") + 1 :] if not a.startswith("--")]
    corpus = build_corpus(docs_only, keep="--keep" in sys.argv)
    tpch_n = sum(len(rows) for rows in _TPCH_ADV.values())
    print(f"adversarial corpus: {corpus}  (docs +{len(ADVERSARIAL_DOCS)}"
          + ("" if docs_only else
             f", embeddings +{len(_adversarial_embeddings())}, events +{len(ADVERSARIAL_EVENTS)}"
             f", tpch facts +{tpch_n}")
          + ")")

    from pyspark.sql import SparkSession

    from drive_entry import compare

    spark = SparkSession.builder.master("local[8]").appName("adversarial-run").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names = [n for n in sorted(registry.all_queries()) if not only or n in only]
    _, bad, err = compare(spark, corpus, names)
    if "--keep" in sys.argv:
        print(f"corpus kept at {corpus}")
    return 1 if (bad or err) else 0


if __name__ == "__main__":
    sys.exit(main())
