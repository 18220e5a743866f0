"""Build an ~sf1 benchmark dataset by replicating the driver's sf0.1
tables N times with join-consistent key offsets.

Purpose: scale-validation bench only (BASELINE.md round-4 table). The
driver's sf0.1 parquet stays the correctness/bench source of truth;
this derivative exists because every plan claim ("corpus never
shuffles", "scan dominates") was previously evidenced at a SF where
fixed overhead is ~half of wall-time.

Replication rules (TPC-H-style):
- region/nation: fixed (copied once) — they are the broadcast dims.
- customer/supplier/part/orders/lineitem: replica r adds r*stride to
  every synthetic key (custkey, suppkey, partkey, orderkey) so FK
  relationships hold within each replica and keys stay globally
  unique. nationkey is left alone (dims fixed).
- orders.o_orderdate / lineitem.l_shipdate are left alone so date-
  window predicates keep the same selectivity.
- events: event_id/user_id offset; ts shifted by r seconds so
  sessionization/windows see distinct-but-overlapping streams.
- documents: doc_id offset; text suffixed with a replica tag so exact
  dedup does not collapse replicas to 1/N.
- embeddings: vec_id offset; a tiny deterministic per-replica rotation
  (+r*1e-3 on one coordinate) so ANN work does not degenerate to
  all-ties.

Usage: python scripts/make_scaled_data.py [--src DIR] [--out DIR] [--n N]
        [--no-sort]

Determinism (VERDICT r14 item 3): every COPY carries an explicit
ORDER BY on the table's key(s), so two builds from the same --src at
the same --n produce BYTE-IDENTICAL parquet regardless of DuckDB's
parallel execution order — cross-round sfx10 anchors then compare
layout-like-for-like (the r13-vs-r14 anchor mismatch was exactly an
unordered rebuild: untouched queries' shuffle bytes differed up to
10x). A MANIFEST.json (src, n, row counts, per-file sha256) is written
next to the tables so a later round can verify it regenerated the same
dataset. ``--no-sort`` restores the unordered streaming build for
very large probe fixtures (sfx100) where the sort does not fit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import duckdb


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/sfx1")
    ap.add_argument("--n", type=int, default=10)
    ap.add_argument("--no-sort", action="store_true")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    con = duckdb.connect()
    # Stream the COPY instead of buffering the whole cross join to
    # preserve input order: at --n 1000 (the sfx100 probe fixture,
    # 600M lineitem rows) insertion-order buffering peaked >100 GB RSS
    # and stalled the box. Row order in these derivatives carries no
    # semantics — every query is layout-invariance-swept
    # (check_correctness --perturb re-keys all views through
    # repartition(13)) — but it must be DETERMINISTIC for longitudinal
    # anchors, hence the explicit ORDER BY per COPY below.
    con.sql("SET preserve_insertion_order = false")
    con.sql("SET memory_limit = '24GB'")
    manifest: dict = {
        "src": args.src,
        "n": args.n,
        "sorted": not args.no_sort,
        "tables": {},
    }

    def src(t: str) -> str:
        return f"read_parquet('{args.src}/{t}.parquet')"

    def write(t: str, sql: str, rg: int = 65536, order: str = "") -> None:
        # Bounded ROW_GROUP_SIZE: DuckDB's default writes the whole
        # table as ONE row group at these sizes, and Spark cannot split
        # inside a row group — a single-row-group file caps scan (and
        # tokenize/decode) parallelism at 1 task no matter the cluster,
        # which is a file-layout artifact, not an engine property. At
        # real scale data arrives as many files/row groups; 64k-row groups
        # (2k for the text/vector tables, whose per-row work dominates)
        # make this derivative behave like that.
        out = f"{args.out}/{t}.parquet"
        if order and not args.no_sort:
            sql = f"SELECT * FROM ({sql}) ORDER BY {order}"
        con.sql(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET, ROW_GROUP_SIZE {rg})")
        n = con.sql(f"SELECT count(*) FROM read_parquet('{out}')").fetchone()[0]
        hsh = hashlib.sha256()
        with open(out, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 22), b""):
                hsh.update(chunk)
        sha = hsh.hexdigest()
        manifest["tables"][t] = {"rows": n, "sha256": sha}
        print(f"{t}: {n} rows sha256={sha[:16]}")

    for t, key in (("region", "r_regionkey"), ("nation", "n_nationkey")):
        write(t, f"SELECT * FROM {src(t)}", order=key)

    # stride per key family: next power of 10 above the max key, so
    # offset keys are disjoint and join-consistent across replicas
    def stride(table: str, col: str) -> int:
        mx = con.sql(f"SELECT max({col}) FROM {src(table)}").fetchone()[0]
        s = 1
        while s <= mx:
            s *= 10
        return s

    ck, sk, pk, ok = (
        stride("customer", "c_custkey"),
        stride("supplier", "s_suppkey"),
        stride("part", "p_partkey"),
        stride("orders", "o_orderkey"),
    )
    n = args.n
    rep = f"(SELECT unnest(range({n})) AS r)"

    write(
        "customer",
        f"SELECT c_custkey + r*{ck} AS c_custkey, c_name, c_nationkey,"
        f" c_acctbal, c_mktsegment FROM {src('customer')} CROSS JOIN {rep}",
        order="c_custkey",
    )
    write(
        "supplier",
        f"SELECT s_suppkey + r*{sk} AS s_suppkey, s_name, s_nationkey,"
        f" s_acctbal FROM {src('supplier')} CROSS JOIN {rep}",
        order="s_suppkey",
    )
    write(
        "part",
        f"SELECT p_partkey + r*{pk} AS p_partkey, p_name, p_brand, p_type,"
        f" p_size, p_retailprice FROM {src('part')} CROSS JOIN {rep}",
        order="p_partkey",
    )
    write(
        "orders",
        f"SELECT o_orderkey + r*{ok} AS o_orderkey, o_custkey + r*{ck} AS"
        f" o_custkey, o_orderstatus, o_totalprice, o_orderdate,"
        f" o_orderpriority FROM {src('orders')} CROSS JOIN {rep}",
        order="o_orderkey",
    )
    write(
        "lineitem",
        f"SELECT l_orderkey + r*{ok} AS l_orderkey, l_partkey + r*{pk} AS"
        f" l_partkey, l_suppkey + r*{sk} AS l_suppkey, l_linenumber,"
        f" l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag,"
        f" l_linestatus, l_shipdate FROM {src('lineitem')} CROSS JOIN {rep}",
        order="l_orderkey, l_linenumber, l_suppkey",
    )

    ek = stride("events", "event_id")
    uk = stride("events", "user_id")
    write(
        "events",
        f"SELECT event_id + r*{ek} AS event_id, ts + to_seconds(r) AS ts,"
        f" user_id + r*{uk} AS user_id, event_type, value, props"
        f" FROM {src('events')} CROSS JOIN {rep}",
        order="event_id",
    )

    dk = stride("documents", "doc_id")
    write(
        "documents",
        f"SELECT doc_id + r*{dk} AS doc_id,"
        f" CASE WHEN r = 0 THEN text ELSE text || ' r' || r END AS text,"
        f" lang, source, n_chars FROM {src('documents')} CROSS JOIN {rep}",
        rg=2048,
        order="doc_id",
    )

    vk = stride("embeddings", "vec_id")
    write(
        "embeddings",
        f"SELECT vec_id + r*{vk} AS vec_id,"
        f" list_transform(embedding, (x, i) -> CASE WHEN i = 1 THEN"
        f" CAST(x + r*0.001 AS FLOAT) ELSE x END) AS embedding,"
        f" label FROM {src('embeddings')} CROSS JOIN {rep}",
        rg=2048,
        order="vec_id",
    )

    with open(os.path.join(args.out, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    print(f"manifest -> {args.out}/MANIFEST.json")


if __name__ == "__main__":
    main()
