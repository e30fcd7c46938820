"""DuckDB oracle for packet_query: each timed query's Spark result must equal
DuckDB's answer to the same question over the same Parquet files."""
import duckdb

SQL = {
    "proto_mix": """SELECT col_protocol, count(*) AS n, sum(frame_len) AS bytes FROM packets
        GROUP BY col_protocol ORDER BY col_protocol NULLS FIRST""",
    "top_src_53": """SELECT ip_src, count(*) AS n, sum(frame_len) AS bytes FROM packets
        WHERE udp_srcport = 53 GROUP BY ip_src ORDER BY n DESC, ip_src LIMIT 10""",
    "top_dns": """SELECT dns_qry_name, count(*) AS n FROM packets WHERE dns_qry_name IS NOT NULL
        GROUP BY dns_qry_name ORDER BY n DESC, dns_qry_name LIMIT 10""",
    "per_second": """SELECT CAST(floor(epoch_us(frame_time) / 1000000) AS BIGINT) AS sec,
        count(*) AS n, sum(frame_len) AS bytes FROM packets GROUP BY 1 ORDER BY 1""",
    "frag_share": """SELECT ip_proto, count(*) AS n, sum(CASE WHEN (ip_frag_offset = 0 AND ip_mf)
        OR ip_frag_offset > 0 THEN 1 ELSE 0 END) AS frag FROM packets
        GROUP BY ip_proto ORDER BY ip_proto""",
    "topk_ports": """SELECT ip_proto, n, port FROM (
          SELECT *, row_number() OVER (PARTITION BY ip_proto ORDER BY n DESC, port) AS rk
          FROM (SELECT ip_proto, coalesce(udp_dstport, tcp_dstport) AS port, count(*) AS n
                FROM packets WHERE coalesce(udp_dstport, tcp_dstport) IS NOT NULL
                GROUP BY 1, 2))
        WHERE rk <= 3 ORDER BY ip_proto, n DESC, port""",
    "manifest_slice": """SELECT count(*) AS n, sum(frame_len) AS bytes,
        min(epoch_us(frame_time)), max(epoch_us(frame_time)) FROM packets
        WHERE epoch_us(frame_time) BETWEEN $ts_lo AND $ts_hi AND ip_src = $src""",
    # the pcap-direct slice read the captures; defrag never patches TCP
    # columns, so the converted rows must give the same answer
    "pcap_slice": """SELECT ip_src, count(*) AS n, sum(frame_len) AS bytes FROM packets
        WHERE tcp_srcport = 443 AND ip_proto = 6 GROUP BY ip_src ORDER BY ip_src""",
}


def _norm(v):
    return None if v is None else v if isinstance(v, str) else int(v)


def check(oracle):
    """Compare every query of `oracle` (the JVM's first-pass results and
    parameters) with DuckDB. Returns {query: reason} for each mismatch."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"CREATE VIEW packets AS SELECT * FROM read_parquet("
                    f"'{oracle['dataset']}/*.parquet')")
        params = {"ts_lo": oracle["ts_lo"], "ts_hi": oracle["ts_hi"], "src": oracle["src"]}
        bad = {}
        for name, got in oracle["queries"].items():
            if name not in SQL:
                bad[name] = "no DuckDB oracle for this query"
                continue
            sql = SQL[name]
            args = {k: v for k, v in params.items() if f"${k}" in sql}
            want = [[_norm(v) for v in row] for row in con.execute(sql, args).fetchall()]
            if [[_norm(v) for v in row] for row in got["rows"]] != want:
                bad[name] = f"Spark {got['rows'][:3]}... != DuckDB {want[:3]}..."
        missing = set(SQL) - set(oracle["queries"])
        for name in missing:
            bad[name] = "query produced no result to compare"
        return bad
    finally:
        con.close()
