"""Per-scale census of the bounded co-purchase subgraph (nations < 5,
shared distinct parts >= 4), read-only over a test-data root holding
sf0.001/, sf0.01/ and sf0.1/.  Usage: python3 subgraph_by_sf.py <root>"""
import duckdb, os, sys
root = sys.argv[1]
for sf in ["sf0.001", "sf0.01", "sf0.1"]:
    d = os.path.join(root, sf)
    con = duckdb.connect()
    for t in ["customer", "orders", "lineitem", "part"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')" if os.path.exists(f"{d}/{t}.parquet") else f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}/*.parquet')")
    q = f"""
    WITH sc AS (SELECT c_custkey FROM customer WHERE c_nationkey < 5),
    cp AS (SELECT DISTINCT o_custkey AS ck, l_partkey AS pk FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           WHERE o_custkey IN (SELECT c_custkey FROM sc)),
    pr AS (SELECT a.ck s, b.ck t, count(*) n FROM cp a JOIN cp b ON a.pk=b.pk AND a.ck<b.ck GROUP BY 1,2)
    SELECT (SELECT count(*) FROM customer) customers,
           (SELECT count(*) FROM sc) sub_customers,
           (SELECT count(DISTINCT ck) FROM cp) sub_buyers,
           (SELECT count(*) FROM part) parts,
           (SELECT count(DISTINCT pk) FROM cp) sub_parts,
           (SELECT count(*) FROM cp) sub_cp_rows,
           (SELECT round(avg(c),1) FROM (SELECT count(*) c FROM cp GROUP BY ck)) parts_per_buyer,
           (SELECT count(*) FROM pr) pairs_sharing_1,
           (SELECT count(*) FROM pr WHERE n>=2) ge2,
           (SELECT count(*) FROM pr WHERE n>=3) ge3,
           (SELECT count(*) FROM pr WHERE n>=4) ge4_edges,
           (SELECT count(*) FROM (SELECT s FROM pr WHERE n>=4 UNION SELECT t FROM pr WHERE n>=4)) ge4_nodes,
           (SELECT max(n) FROM pr) max_shared,
           (SELECT count(*) FROM orders) orders_n,
           (SELECT count(*) FROM lineitem) lineitem_n
    """
    r = con.execute(q).fetchdf()
    print(sf); print(r.T.to_string())
