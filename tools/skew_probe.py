"""Synthetic hot-key probe: window-count-over-partition vs
groupBy+join-back for attaching a per-key count, on a corpus where ONE
key owns 50% of rows (the VERDICT r08 item-2 scenario for the four
window-for-df rewrites: tfidf df, unigram/bigram-CE corpus counts,
dup_span gram counts).

Builds (id, term) rows directly (n_rows total, hot term = 50%), then:
  window form:    count(1) over (partition by term)        -> filter
  join form:      groupBy(term).count -> join back on term -> filter
  no-attach:      scan + final aggregate only (floor)
  exchange-only:  repartition(term) + final aggregate (co-location cost)

Round-9 measurement (80M rows, local[32], idle host, min of 2):
  window 28.5 s | join 42.0 s | no-attach 0.2 s | exchange-only 10.2 s
Both attach forms are bottlenecked by co-locating the 40M-row hot key
on one task (AQE skew-join cannot split a single enormous key, and it
never applies to windows/aggregations — guide §2.5); the join form
additionally pays the SMJ machinery on the same co-located rows and
comes out ~1.5x WORSE. The de-skew that actually works at 100 TB is
capping/salting the hot keys before the attach (dedup._cap_hot_grams,
remove_boilerplate), not replacing the window with a join.

Usage: python tools/skew_probe.py [n_rows] [n_pairs]
"""
import os, sys, time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
n_pairs = int(sys.argv[2]) if len(sys.argv) > 2 else 2

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
spark = (
    SparkSession.builder.master(f"local[{cpus}]")
    .appName("skew_probe")
    .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.driver.memory", "16g")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "true")
    .config("spark.driver.host", "127.0.0.1")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("WARN")

# 50% hot key, rest uniform over 100k cold keys — deterministic.
# persist so the probe times the count-attach forms, not row generation
rows = spark.range(0, n_rows, 1, cpus).select(
    F.col("id"),
    F.when(F.col("id") % 2 == 0, F.lit("the"))
    .otherwise(F.concat(F.lit("t"), (F.xxhash64("id") % 100_000).cast("string")))
    .alias("term"),
).persist()
rows.count()


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def window_form():
    w = Window.partitionBy("term")
    noop(rows.withColumn("c", F.count(F.lit(1)).over(w)).where(F.col("c") >= 2)
         .select(F.sum("id").alias("s"), F.count(F.lit(1)).alias("n")))


def join_form():
    cnt = rows.groupBy("term").agg(F.count(F.lit(1)).alias("c")).where(F.col("c") >= 2)
    noop(rows.join(cnt, "term").select(F.sum("id").alias("s"), F.count(F.lit(1)).alias("n")))


def baseline_form():
    # no count-attach at all: scan + the same final aggregate
    noop(rows.select(F.sum("id").alias("s"), F.count(F.lit(1)).alias("n")))


def exchange_form():
    # repartition by term + same final aggregate: isolates the cost of
    # co-locating the hot key WITHOUT any window/join on top
    noop(rows.repartition(F.col("term"))
         .select(F.sum("id").alias("s"), F.count(F.lit(1)).alias("n")))


# warm
window_form(); join_form(); baseline_form(); exchange_form()
ws, js, bs, es = [], [], [], []
for i in range(n_pairs):
    t0 = time.perf_counter(); window_form(); ws.append(time.perf_counter() - t0)
    t0 = time.perf_counter(); join_form(); js.append(time.perf_counter() - t0)
    t0 = time.perf_counter(); baseline_form(); bs.append(time.perf_counter() - t0)
    t0 = time.perf_counter(); exchange_form(); es.append(time.perf_counter() - t0)
print(f"n_rows={n_rows:,} hot-key=50%")
print("window form:  ", [round(x, 2) for x in ws], "min", round(min(ws), 2))
print("join form:    ", [round(x, 2) for x in js], "min", round(min(js), 2))
print("no-attach:    ", [round(x, 2) for x in bs], "min", round(min(bs), 2))
print("exchange-only:", [round(x, 2) for x in es], "min", round(min(es), 2))
