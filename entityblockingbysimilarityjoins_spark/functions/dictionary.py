"""Deterministic global token dictionary + IDF weights (SURVEY.md T6).

The reference builds, per (tokenizer, setting, attribute), a global dictionary
over all records with token ids assigned in increasing frequency order
(rarest token = smallest id) and IDF weight log10(N/freq)
(``/root/reference/cpp/common/tokenizer.cc:329-363``). Sorted-ascending int
token arrays therefore put the **rarest tokens first**, which is exactly what
the prefix filter of the set-similarity join needs.

Determinism contract (SURVEY.md §4): the reference's sort breaks frequency
ties arbitrarily; we define the total order ``(count ASC, token ASC)`` so
blocking keys are reproducible across runs and cluster sizes.

Scale notes:
- the dictionary build is one groupBy(token).count() shuffle + a distributed
  two-pass rank: range-partition + sort on (freq, token), then per-partition
  row_number offset by the cumulative sizes of the preceding partitions. The
  only global structure is the P-row partition-size table (P = number of
  range partitions), never the vocabulary itself — no single-task window.
  The rank is a pure function of the unique total order (freq, token), so
  tids are identical regardless of where the range boundaries land.
- encoding joins the (exploded) corpus with the dictionary: broadcast when it
  fits (``broadcast_threshold``), shuffle hash join otherwise (100 TB corpora
  have vocabularies far beyond broadcast).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..operators.cache import persist_tracked


def build_dictionary(df: DataFrame, tokens_col: str = "tokens", n_records: int | None = None) -> DataFrame:
    """Build (token, tid, freq, idf) with tid 0..V-1 ordered (freq ASC, token ASC).

    ``n_records`` defaults to df's row count — for RS joins pass |A|+|B| over
    the union, matching wordwt = log10((|A|+|B|)/freq) (tokenizer.cc:348-363).
    The default count is a scalar subquery, not an eager job: it runs only
    when a plan reads ``idf``, and yields the same double as ``float(n)``.
    """
    n = (F.lit(float(n_records)) if n_records is not None
         else df.select(F.count("*").cast("double")).scalar())
    freqs = (
        df.select(F.explode(tokens_col).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    # Distributed two-pass rank (no global window): range-sort the vocab,
    # number rows inside each sorted partition, shift by the cumulative size
    # of the preceding partitions. Only the P-row size table is windowed
    # globally; it is broadcast back onto the vocab.
    sc = df.sparkSession.sparkContext
    n_parts = max(sc.defaultParallelism, 1)
    parts = (
        freqs.repartitionByRange(n_parts, F.asc("freq"), F.asc("token"))
        .withColumn("__pid", F.spark_partition_id())
        .transform(persist_tracked)
    )
    sizes = parts.groupBy("__pid").agg(F.count("*").alias("__n"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "__pid", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
    )
    w_in = Window.partitionBy("__pid").orderBy(F.asc("freq"), F.asc("token"))
    return (
        parts.join(F.broadcast(offsets), "__pid")
        .select(
            "token",
            (F.row_number().over(w_in) - 1 + F.col("__off")).cast("int").alias("tid"),
            "freq",
            F.log10(n / F.col("freq")).alias("idf"),
        )
    )


def encode_tokens(
    df: DataFrame,
    dictionary: DataFrame,
    id_col: str = "rid",
    tokens_col: str = "tokens",
    out_col: str = "tids",
    weight_col: str | None = "wt",
    broadcast_dict: bool = True,
    idfs_col: str | None = None,
    drop_empty: bool = False,
) -> DataFrame:
    """Re-encode string-token arrays as sorted int-id arrays (+ IDF record weight).

    Sorted ascending == rarest-first (see module doc). Rows whose token set is
    empty keep an empty array and weight 0.0 (DROP_EMPTY happens later, at the
    join's filter, matching setjoin.cc:199-202 semantics).

    ``idfs_col``: optionally also emit the per-token idf array aligned with
    ``out_col`` (idfs[i] = idf of tids[i]) — weighted joins derive suffix
    weights and the verification map from it with pure projections, no extra
    shuffle.

    ``drop_empty``: callers that filter empty token sets right away (every
    set/overlap join) skip the join back onto ``df`` entirely — the groupBy
    output IS the non-empty encoding (a record with zero dictionary tokens
    emits no exploded rows), removing one join + its exchange from every
    join's prepare stage (guide §2.4). Only ``id_col`` survives from ``df``
    in this mode."""
    # a caller that reads no weight carries a constant instead: the plan then
    # never computes idf, nor the dictionary's record-count subquery
    idf = F.col("idf") if weight_col or idfs_col else F.lit(0.0)
    d = dictionary.select("token", "tid", idf.alias("idf"))
    if broadcast_dict:
        d = F.broadcast(d)
    exploded = df.select(id_col, F.explode(tokens_col).alias("token"))
    # array_sort on (tid, idf) structs orders by tid — tids and idfs stay
    # aligned through one aggregation
    enc = (
        exploded.join(d, "token")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("tid", "idf"))).alias("__p"))
        .select(
            id_col,
            F.transform("__p", lambda x: x["tid"]).alias(out_col),
            F.transform("__p", lambda x: x["idf"]).alias("__idfs"),
        )
    )
    if drop_empty:
        out = enc
    else:
        out = (
            df.join(enc, id_col, "left")
            .withColumn(out_col, F.coalesce(F.col(out_col), F.array().cast("array<int>")))
            .withColumn("__idfs", F.coalesce(F.col("__idfs"), F.array().cast("array<double>")))
        )
    out = out.withColumn(out_col, F.col(out_col).cast("array<int>"))
    if weight_col is not None:
        out = out.withColumn(
            weight_col,
            F.aggregate("__idfs", F.lit(0.0), lambda acc, x: acc + x),
        )
    if idfs_col is not None:
        out = out.withColumnRenamed("__idfs", idfs_col)
    else:
        out = out.drop("__idfs")
    return out


def idf_weight(tokens: Column, idf_map: Column) -> Column:
    """Record weight = sum of token IDFs, as a native aggregate expression."""
    return F.aggregate(tokens, F.lit(0.0), lambda acc, t: acc + F.coalesce(idf_map[t], F.lit(0.0)))
