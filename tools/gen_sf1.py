#!/usr/bin/env python3
"""Scale-proof fixture: materialize an ~sf1 dataset as 10 content-varied
replicas of the driver's sf0.1 tables (driver data is read-only; the output
lives under target/, git-ignored).

Replication is NOT naive row duplication — each replica is keyed into a
fresh id range and content-varied so per-capita workload characteristics
match organic growth rather than degenerating:

- documents: words ROTATED by a per-replica offset, so replica texts share
  a vocabulary (tf-idf/vocab stats scale naturally) but have almost
  entirely different shingle sets — naive copies would put 10 identical
  texts in every MinHash bucket and blow the near-dup pair count up ~100x
  instead of ~10x.
- customer: names regenerated from the shifted key in the TPC-H pattern
  ('Customer#' || 9 digits), so the fuzzy-join name space grows the way
  TPC-H itself grows (new keys = new digit strings), and the derived
  geo points (acctbal/custkey functions) spread like organic data.
- embeddings: vectors shifted by a small per-replica constant — distinct
  points, unchanged scale, so ANN cell occupancy grows ~linearly.
- orders/lineitem: order keys shifted consistently on both sides so join
  fan-out per key is preserved exactly.

Usage: python3 tools/gen_sf1.py [outDir=target/sf1] [srcDir] [replicas] [--hold-density] [--docs-only] [--events-only]

--hold-density swaps the documents transform from word ROTATION to a
per-replica token BIJECTION (every token suffixed with the replica id):
within a replica the near-dup pair graph and the duplicated-span layout
are preserved token-for-token (a bijection of the vocabulary cannot
change shingle equality structure), across replicas nothing is shared —
so near-dup/span density PER CAPITA is exactly the source's, at every
chain depth. Rotation can't do that: its offset is length-dependent
(r % nw), so each chain link breaks the different-length near-dup pairs
and any span straddling the seam (FIXTURES.md §5 dilution). The cost is
a vocabulary that grows with the replica count and tokens that leave
the stopword lists — hold-density fixtures are for the PAIR/SPAN-driven
families (q482/q547/q405/q420), not for langid/quality/vocab queries.
Other tables are generated exactly as in rotation mode.
"""
import os
import sys

HOLD = "--hold-density" in sys.argv
# --docs-only: write documents.parquet and nothing else — the span/pair
# scale rungs (q482/q547) read only documents, and the sf100hd fixture's
# other tables would cost ~15 GB and most of the generation time for
# queries that never open them.
DOCS_ONLY = "--docs-only" in sys.argv
# --events-only: write events.parquet and nothing else — the storage-layer
# scale rungs (BENCH_SCALE.md, round 14: partitioned connector reads, the
# zero-read DELETE) read only events, and a full sf100 fixture would cost
# ~15 GB for tables those studies never touch.
EVENTS_ONLY = "--events-only" in sys.argv
sys.argv = [a for a in sys.argv
            if a not in ("--hold-density", "--docs-only", "--events-only")]

import duckdb

SRC = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
DST = sys.argv[1] if len(sys.argv) > 1 else "target/sf1"
# replicas; 10 from sf0.1 gives ~sf1. For the sf10 rung, chain:
#   python3 tools/gen_sf1.py target/sf10 target/sf1 10
# (the stride logic reads max(key)+1 from SRC, so chaining is safe)
R = int(sys.argv[3]) if len(sys.argv) > 3 else 10

os.makedirs(DST, exist_ok=True)
con = duckdb.connect(config={"threads": 8})
rep = "(SELECT unnest(range(%d)) AS r) rep" % R


def stride(table: str, key: str) -> int:
    """Replica id-shift stride = max(key)+1 of the SOURCE table, so replica
    key ranges never overlap regardless of the source's scale factor
    (hardcoded sf0.1 cardinalities would silently collide on larger
    sources, corrupting dedup groups and join fan-out)."""
    return con.execute(
        f"SELECT max({key}) + 1 FROM '{SRC}/{table}.parquet'").fetchone()[0]


DOC_N = None if EVENTS_ONLY else stride("documents", "doc_id")
# non-document strides only when those tables will be written — a
# --docs-only SOURCE dir (chained docs-only fixtures) has no other tables
if not DOCS_ONLY and not EVENTS_ONLY:
    CUST_N = stride("customer", "c_custkey")
    VEC_N = stride("embeddings", "vec_id")
    ORD_N = stride("orders", "o_orderkey")
else:
    # placeholders: the skipped tables' SELECT strings are still BUILT
    # (copy() no-ops before executing them)
    CUST_N = VEC_N = ORD_N = 0


def copy(name: str, select: str) -> None:
    if EVENTS_ONLY and name != "events":
        return
    con.execute(
        f"COPY ({select}) TO '{DST}/{name}.parquet' (FORMAT PARQUET)")
    n = con.execute(
        f"SELECT count(*) FROM '{DST}/{name}.parquet'").fetchone()[0]
    print(f"{name}: {n} rows")


if HOLD:
    # n_chars is RECOMPUTED from the suffixed text (the bijection
    # lengthens every token, so copying the source's n_chars would break
    # any n_chars-vs-text consistency check); the span/pair families this
    # mode serves never read n_chars, but the column should not lie.
    tx = "t -> t || '_' || r"
    copy("documents", f"""
      SELECT doc_id + r * {DOC_N} AS doc_id,
             array_to_string(
               list_transform(toks, {tx}), ' ') AS text,
             lang, source,
             len(array_to_string(
               list_transform(toks, {tx}), ' ')) AS n_chars
      FROM (SELECT *, string_split(text, ' ') AS toks
            FROM '{SRC}/documents.parquet'), {rep}
    """)
else:
    copy("documents", f"""
      SELECT doc_id + r * {DOC_N} AS doc_id,
             array_to_string(
               list_concat(toks[(r % nw) + 1:], toks[:(r % nw)]), ' ') AS text,
             lang, source, n_chars
      FROM (SELECT *, string_split(text, ' ') AS toks,
                   greatest(len(string_split(text, ' ')), 1) AS nw
            FROM '{SRC}/documents.parquet'), {rep}
    """)

if DOCS_ONLY:
    sys.exit(0)

copy("customer", f"""
  SELECT c_custkey + r * {CUST_N} AS c_custkey,
         'Customer#' || lpad(CAST(c_custkey + r * {CUST_N} AS VARCHAR), 9, '0')
           AS c_name,
         c_nationkey, c_acctbal + r * 0.13 AS c_acctbal, c_mktsegment
  FROM '{SRC}/customer.parquet', {rep}
""")

copy("embeddings", f"""
  SELECT vec_id + r * {VEC_N} AS vec_id,
         list_transform(embedding,
           x -> CAST(x + r * 0.0017 AS FLOAT)) AS embedding,
         label
  FROM '{SRC}/embeddings.parquet', {rep}
""")

copy("orders", f"""
  SELECT o_orderkey + r * {ORD_N} AS o_orderkey,
         o_custkey + r * {CUST_N} AS o_custkey,
         o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
  FROM '{SRC}/orders.parquet', {rep}
""")

# part and supplier are DIMENSIONS: lineitem.l_partkey / l_suppkey are
# deliberately NOT shifted per replica, so these tables stay the source's —
# fact grows 10x against fixed dims, the realistic warehouse shape (q214's
# per-part fan-in grows; q255's per-supplier wait counts grow).
copy("part", f"SELECT * FROM '{SRC}/part.parquet'")
copy("supplier", f"SELECT * FROM '{SRC}/supplier.parquet'")
copy("nation", f"SELECT * FROM '{SRC}/nation.parquet'")
copy("region", f"SELECT * FROM '{SRC}/region.parquet'")

copy("lineitem", f"""
  SELECT l_orderkey + r * {ORD_N} AS l_orderkey, l_partkey, l_suppkey,
         l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
         l_returnflag, l_linestatus, l_shipdate
  FROM '{SRC}/lineitem.parquet', {rep}
""")

# events grow by USERS (10x population, per-user series kept intact), not
# by densifying each user's history — stop detection / sessionization /
# O-D flows then scale the way organic growth scales them: more
# independent per-user scans, same per-user state. A small per-replica
# value shift varies the derived ping jitters and durations.
EVT_N = stride("events", "event_id")
USR_N = stride("events", "user_id")

copy("events", f"""
  SELECT event_id + r * {EVT_N} AS event_id, ts,
         user_id + r * {USR_N} AS user_id, event_type,
         value + r * 0.000017 AS value, props
  FROM '{SRC}/events.parquet', {rep}
""")
