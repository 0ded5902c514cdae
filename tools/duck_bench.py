#!/usr/bin/env python3
"""Time the DuckDB oracle suite on an sf dir — the same-engine-same-data
comparison the round judge makes against BENCH_r*.json.

Usage: python3 tools/duck_bench.py [sfDir] [verifyOutDir-with-oracle_sql.json]

Prints per-query seconds (descending) and the total. q40 is skipped (its
oracle hardcodes the sf0.01 path — it's a catalog operator, not a bench
query). The lifecycle and store gates are skipped SYMMETRICALLY with
graft.Bench (graft.SparkEntry.untimed): their Spark side runs an ingest
lifecycle or a store build, not a query, so neither side times them; the
correctness gate still covers them.

Also importable (tools/paired_bench.py): `connect(sf)` builds the view'd
connection, `run_pass(con, sql)` times one full pass and returns the
per-query dict.
"""
import duckdb, json, sys, time

# graft.SparkEntry.untimed (the rationale lives there) plus q40, whose
# oracle hardcodes the sf0.01 path (catalog operator); UntimedRegistrySpec
# keeps the two lists equal.
SKIP = frozenset((
    "q40_parquet_meta", "q86_ingest_endstate",
    "q90_image_ingest_endstate", "q91_audio_ingest_endstate",
    "q92_video_ingest_endstate", "q95_stream_sessionize_endstate",
    "q96_stream_window_endstate", "q98_stream_join_endstate",
    "q100_stream_dedup_endstate",
    "q104_stream_timer_sessionize_endstate",
    "q121_index_ingest_endstate",
    "q125_bm25_sharded_store",
    "q144_vector_store_ingest_endstate",
    "q150_drift_retrain_endstate",
    "q156_tokenizer_retrain_endstate",
    "q137_ann_sharded_store", "q141_graph_sharded_store",
    "q152_ann_sq8_store", "q153_ann_filtered_store",
    "q158_graph_batch_serve", "q165_graph_entry_serve"))

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(sf):
    con = duckdb.connect()
    con.execute("SET threads=32")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    return con


def run_pass(con, sql, on_error=None):
    """One timed pass over every non-skipped oracle; returns {name: sec}."""
    times = {}
    for name, q in sorted(sql.items()):
        if name in SKIP:
            continue
        t0 = time.time()
        try:
            con.execute(q).fetchall()
            times[name] = time.time() - t0
        except Exception as e:
            if on_error:
                on_error(name, e)
            else:
                print(f"{name:36s}ERR {str(e)[:90]}")
    return times


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    sql = json.load(open(f"{out}/oracle_sql.json"))
    times = run_pass(connect(sf), sql)
    for k, v in sorted(times.items(), key=lambda kv: -kv[1]):
        print(f"{k:36s}{v:.3f}")
    print(f"TOTAL {sum(times.values()):.2f}s over {len(times)} queries")
