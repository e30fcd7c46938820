#!/usr/bin/env python3
"""SURVEY §5.4 defrag differential: run the reference's defrag SQL
(verbatim from /root/reference/src/main.rs:292-296) in DuckDB over the
nodefrag packet table, and diff against the engine's Defrag output.

Round 12: the check is now sound on KEY-COLLIDED corpora. The reference
patches every datagram key from DuckDB `first()` — scan order, i.e.
NONDETERMINISTIC whenever a key has more than one distinct first
fragment (a 16-bit ip_id wraps every 64k datagrams per flow pair, so
any capture beyond a few million packets collides; the engine uses a
deterministic min(struct) instead, SURVEY §4.4). Byte-equality against
one arbitrary scan order is therefore unachievable on collided keys BY
THE REFERENCE'S OWN SEMANTICS, so the differential splits:

  1. keys with at most ONE distinct first-fragment candidate (plus every
     NULL-key / non-UDP row): compared EXACTLY against the verbatim
     reference SQL — on collision-free corpora (per-file captures under
     the ip_id wrap) this is the whole corpus, byte-for-byte. The row
     multisets are compared inside DuckDB (EXCEPT ALL both ways), so no
     row is loaded into Python;
  2. collided keys: every engine row must (a) keep its per-key row
     count and (b) per patched column, the POST multiset of non-null
     values per key may differ from the PRE multiset only by a surplus
     in a single value — every patched null row of a key receives the
     one chosen first fragment's value — and that surplus value must be
     carried by a FIRST-FRAGMENT row of the key (round 13: the earlier
     containment accepted any non-null row of the key as the source, so
     a defrag bug patching from a non-first-fragment sibling passed;
     the multiset delta also catches a preserved value vanishing).

Usage: python3 tools/defrag_differential.py <nodefrag.parquet> <defragged.parquet>
"""
import sys

import duckdb

KEYS = "ip_src, ip_dst, ip_proto, ip_id"
PATCHED = ["udp_srcport", "udp_dstport", "ntp_priv_reqcode",
           "dns_qry_type", "dns_qry_name", "col_protocol"]

FF_SQL = ("create temp table ff as select ip_src, ip_dst, ip_id, ip_proto, "
          "first(udp_srcport) as udp_srcport, first(udp_dstport) as udp_dstport, "
          "first(ntp_priv_reqcode) as ntp_priv_reqcode, first(dns_qry_type) as dns_qry_type, "
          "first(dns_qry_name) as dns_qry_name, first(col_protocol) as col_protocol "
          "from pcap where ip_proto=17 and ip_mf=1 and ip_frag_offset=0 group by all")

RAW_SQL = ("create view raw as select pcap.* exclude (udp_srcport, udp_dstport, "
           "ntp_priv_reqcode, dns_qry_type, dns_qry_name, col_protocol), "
           "coalesce(pcap.udp_srcport, ff.udp_srcport) as udp_srcport, "
           "coalesce(pcap.udp_dstport, ff.udp_dstport) as udp_dstport, "
           "coalesce(pcap.ntp_priv_reqcode,ff.ntp_priv_reqcode) as ntp_priv_reqcode, "
           "coalesce(pcap.dns_qry_type, ff.dns_qry_type) as dns_qry_type, "
           "coalesce(pcap.dns_qry_name, ff.dns_qry_name) as dns_qry_name, "
           "coalesce(pcap.col_protocol, ff.col_protocol) as col_protocol "
           "from pcap left join ff using (ip_src,ip_dst, ip_proto, ip_id)")

# keys whose DISTINCT first-fragment candidate tuples number > 1 — the
# rows the reference's own scan-order first() does not pin down
MULTI_SQL = (f"create temp table multi as select {KEYS} from ("
             f"select distinct {KEYS}, {', '.join(PATCHED)} from pcap "
             "where ip_proto=17 and ip_mf=1 and ip_frag_offset=0) "
             f"group by all having count(*) > 1")


# rows per EXCEPT ALL pass: one pass over a 13M-row collided corpus grew
# to 14 GB RSS on a 16 GB, 4-CPU VM and then spilled until its 17 GB of
# free disk ran out, so rows are split into hash buckets of about this
# size and compared bucket by bucket (peak 4 GB RSS there)
BUCKET_ROWS = 1_000_000


def multiset_diff(con, ref_sql, got_sql, cols):
    """Exact multiset comparison inside DuckDB: (rows of ref, rows of got,
    ref rows missing from got, got rows missing from ref, one such missing
    row or None), duplicates counted (EXCEPT ALL; NULLs compare equal).
    Equal rows share (frame_time, pcap_file), so bucketing on its hash
    keeps the comparison exact. Only counts and that one row come back
    to Python."""
    sel = ", ".join(cols)
    n_ref = con.sql(f"select count(*) from ({ref_sql})").fetchone()[0]
    n_got = con.sql(f"select count(*) from ({got_sql})").fetchone()[0]
    buckets = max(1, -(-max(n_ref, n_got) // BUCKET_ROWS))
    missing = extra = 0
    first = None
    for b in range(buckets):
        part = f"where hash(frame_time, pcap_file) % {buckets} = {b}"
        r = f"select {sel} from ({ref_sql}) {part}"
        g = f"select {sel} from ({got_sql}) {part}"
        m, e = con.sql(f"select (select count(*) from ({r} except all {g})), "
                       f"(select count(*) from ({g} except all {r}))").fetchone()
        missing += m
        extra += e
        if m and first is None:
            first = con.sql(f"{r} except all {g} limit 1").fetchone()
    return n_ref, n_got, missing, extra, first


def main(nodefrag, defragged):
    con = duckdb.connect()
    con.execute(f"create view pcap as select * from '{nodefrag}/*.parquet'")
    con.execute(f"create view got as select * from '{defragged}/*.parquet'")
    con.execute(FF_SQL)
    con.execute(RAW_SQL)
    con.execute(MULTI_SQL)
    n_multi = con.sql("select count(*) from multi").fetchone()[0]
    # 1) exact, reference-verbatim comparison on everything whose key the
    # reference pins down (anti join keeps NULL-key rows — never patched)
    anti = (f"select t.* from {{src}} t anti join multi m using ({KEYS})")
    ref_cols = sorted(con.sql(anti.format(src="raw")).columns)
    got_cols = sorted(con.sql(anti.format(src="got")).columns)
    if ref_cols != got_cols:
        print(f"✗ column mismatch: ref={ref_cols} got={got_cols}")
        return 1
    n_ref, n_got, missing, extra, first = multiset_diff(
        con, anti.format(src="raw"), anti.format(src="got"), ref_cols)
    if n_ref != n_got:
        print(f"✗ single-candidate row count: ref={n_ref} got={n_got}")
        return 1
    if missing or extra:
        print(f"✗ {missing}/{n_ref} single-candidate rows differ ({extra} unexpected); "
              f"first missing from the engine's output: {first}")
        return 1
    if n_multi:
        # 2) collided keys: per-key row-count parity (grouped joins, not
        # correlated subqueries — those re-scan the corpus per key)
        cnt = con.sql(
            f"select count(*) from ("
            f"  select {KEYS}, count(*) as a from pcap join multi using ({KEYS}) "
            f"  group by all) pa full join ("
            f"  select {KEYS}, count(*) as b from got join multi using ({KEYS}) "
            f"  group by all) ga using ({KEYS}) "
            f"where coalesce(a, 0) != coalesce(b, 0)").fetchone()[0]
        if cnt:
            print(f"✗ {cnt} collided keys changed row counts")
            return 1
        # …and per-column multiset delta (round-13 ADVICE): preserved own
        # values cancel between pre and post, so per key the post multiset
        # of non-null values may exceed the pre multiset in AT MOST ONE
        # value (all patched null rows of a key receive the same chosen
        # first fragment's value), no value may vanish, and the surplus
        # value must be carried by a FIRST-FRAGMENT row of that key
        for c in PATCHED:
            vanished, multi_v, stray = con.sql(f"""
                with p as (select {KEYS}, {c} as v, count(*) as n
                           from pcap join multi using ({KEYS})
                           where {c} is not null group by all),
                     g as (select {KEYS}, {c} as v, count(*) as n
                           from got join multi using ({KEYS})
                           where {c} is not null group by all),
                     d as (select {KEYS}, v,
                                  coalesce(g.n, 0) - coalesce(p.n, 0) as delta
                           from p full join g using ({KEYS}, v))
                select
                  (select count(*) from d where delta < 0),
                  (select count(*) from (select {KEYS} from d where delta > 0
                                         group by all having count(*) > 1)),
                  (select count(*) from (select {KEYS}, v from d where delta > 0) s
                     anti join (select {KEYS}, {c} as v from pcap
                                where ip_proto = 17 and ip_mf = 1
                                  and ip_frag_offset = 0 and {c} is not null) f
                     using ({KEYS}, v))""").fetchone()
            if vanished:
                print(f"✗ {vanished} pre-defrag {c} values vanished on collided keys")
                return 1
            if multi_v:
                print(f"✗ {multi_v} collided keys gained more than one distinct "
                      f"{c} value (a key patches from ONE first fragment)")
                return 1
            if stray:
                print(f"✗ {stray} collided-key {c} surplus values are carried by "
                      "no first fragment of their key")
                return 1
    tag = (f" + {n_multi} ip_id-collided keys legal under the reference's "
           "scan-order nondeterminism" if n_multi else "")
    print(f"✓ defrag differential: {n_ref} rows identical to the "
          f"reference SQL{tag}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
