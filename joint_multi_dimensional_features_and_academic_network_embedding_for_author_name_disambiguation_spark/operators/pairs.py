"""Blocked candidate-pair generation (J4) with explicit skew splitting.

The reference generates pairs with a nested Python loop inside one
ambiguous-name block (src/pre_data/generate_adj.py:86-116,
src/utils/utils.py:219-252). Here the same semantics are a blocked
self-join `a ⋈ b ON block_key WHERE a.id < b.id` — but a naive self-join
melts down on hot blocks (the reference's worst block is 3228 mentions ≈
5.2M pairs; a 10⁶-row block at 100 TB scale would be 5·10¹¹ pairs *in one
shuffle partition*). AQE skew-join splits shuffle partitions but cannot
split the O(n²) pair explosion itself, so we do it algorithmically:

  1. one pre-pass action (``block_stats``) counts the rows per block and
     returns the hot blocks, those over ``max_rows_per_task`` rows
     (SURVEY §4 "custom work" item 2);
  2. a hot block is divided into s deterministic buckets (xxhash64(id)
     mod s, no RNG); every other block is bucket 0;
  3. each a-side row of bucket i is replicated to the buckets j ≥ i
     (``explode(sequence(i, s-1))``), so every one of the s·(s+1)/2
     bucket pairs is its own shuffle key → a hot block's pairs are
     produced by many independent tasks.

All pairs are produced exactly once: cross-bucket combos (i<j) are unique
by construction, intra-bucket combos are guarded by id_a<id_b, and output
order is normalized so id_a < id_b.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.similarity import sql_name

# Forced-broadcast byte budget for the payload join-back. Spark's hard
# broadcast cap is 8 GB; this leaves headroom for BOTH sides (a-payload +
# b-payload are separate broadcast variables) plus driver copies.
BROADCAST_BYTE_CAP = 2_000_000_000


def _scalar_width(t) -> int:
    """JVM-ish serialized width of a fixed-width element (8 B payload cap
    + boxing/offset overhead for the wider types)."""
    if isinstance(t, (T.DoubleType, T.LongType, T.TimestampType)):
        return 12
    if isinstance(t, (T.BooleanType, T.ByteType, T.ShortType)):
        return 6
    return 8  # int/float/date/decimal-ish default


def _var_len_sum(c, overhead: int):
    """Σ element lengths + per-element overhead for an array of strings."""
    return F.coalesce(
        F.aggregate(
            c,
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.coalesce(F.length(x), F.lit(0)) + overhead,
        ),
        F.lit(0).cast("long"),
    )


def _row_bytes_expr(df: DataFrame):
    """Per-row serialized-size estimate as a column expression: element
    counts × type widths for arrays/maps (variable-width string elements
    measured by Σ length — a flat per-element constant under-counted
    token/shingle payloads 2-4× and let the gate force broadcasts past its
    own budget), lengths for strings, fixed widths for scalars.
    Deliberately coarse — it only gates a broadcast-vs-shuffle decision,
    and Catalyst's own stats are exactly what overshoots here."""
    parts = []
    for f in df.schema.fields:
        c = F.col(f.name)
        t = f.dataType
        if isinstance(t, T.ArrayType):
            et = t.elementType
            if isinstance(et, (T.StringType, T.BinaryType)):
                parts.append(_var_len_sum(c, 8) + 16)
            else:
                parts.append(F.coalesce(F.size(c), F.lit(0)) * _scalar_width(et) + 16)
        elif isinstance(t, T.MapType):
            n = F.coalesce(F.size(c), F.lit(0))
            if isinstance(t.keyType, (T.StringType, T.BinaryType)):
                ksz = _var_len_sum(F.map_keys(c), 8)
            else:
                ksz = n * _scalar_width(t.keyType)
            if isinstance(t.valueType, (T.StringType, T.BinaryType)):
                vsz = _var_len_sum(F.map_values(c), 8)
            else:
                vsz = n * _scalar_width(t.valueType)
            parts.append(ksz + vsz + 16)
        elif isinstance(t, (T.StringType, T.BinaryType)):
            parts.append(F.coalesce(F.length(c), F.lit(0)) + 20)
        else:
            parts.append(F.lit(16))
    out = parts[0]
    for p in parts[1:]:
        out = out + p
    return out.cast("double")


def estimated_broadcast_bytes(df: DataFrame, n_rows: int, sample_rows: int = 2000) -> float:
    """rows × mean serialized row size, mean from one bounded sample job.

    The r3 forced broadcast was gated on a ROW count (≤ 2M) — but member
    rows carry token/shingle/tfidf arrays measured in KBs, so 2M such rows
    are multiple GB, past Spark's 8 GB broadcast cap. Byte-gating keeps
    the forced-broadcast fix for Catalyst's overshooting size estimate
    while failing over to the shuffled join before the broadcast can OOM.
    """
    if n_rows <= 0:
        return 0.0
    row = (
        df.limit(sample_rows)
        .select(F.avg(_row_bytes_expr(df)).alias("b"))
        .collect()[0]["b"]
    )
    return float(n_rows) * float(row or 0.0)


class BlockStats(NamedTuple):
    """What the pair generation needs to know about a blocking-key table
    before it runs: ``rows`` (the key rows, or those marked by
    ``block_stats``' ``count_if``), ``pairs`` (Σ n·(n−1)/2 over the key
    groups: the exact row count of the blocked self-join, before any
    dedup) and ``hot``, the (xxhash64 of the block key, splits) of every
    block with more than ``max_rows_per_task`` rows."""

    rows: int
    pairs: float
    hot: list


def block_stats(
    keys: DataFrame,
    block_col: str = "block_key",
    max_rows_per_task: int = 2000,
    count_if: str | None = None,
) -> BlockStats:
    """:class:`BlockStats` of ``keys`` in one action: a group-by on the
    block key and one global aggregate over the groups, collected as one
    row. On a persisted ``keys`` (or a projection of a persisted frame)
    that action is also what fills the cache.

    ``count_if``: SQL text of a boolean over ``keys``; ``rows`` then counts
    only the rows it holds for (the pipeline marks its stem keys, one per
    member, among the MinHash band keys).

    The collect is bounded without a knob: a hot block has more than
    ``max_rows_per_task`` rows, so the hot list has at most
    rows / ``max_rows_per_task`` entries. A NULL block key pairs with
    nothing and is never hot.
    """
    m, blk = int(max_rows_per_task), sql_name(block_col)
    counts = [F.expr("count(1) AS _n")]
    if count_if is not None:
        counts.append(F.expr(f"count_if({count_if}) AS _r"))
    row = (
        keys.groupBy(block_col)
        .agg(*counts)
        .selectExpr(
            f"coalesce(sum({'_r' if count_if is not None else '_n'}), 0) AS rows",
            "coalesce(sum(((_n * (_n - 1)) / 2)), 0.0D) AS pairs",
            f"collect_list(struct(xxhash64({blk}) AS h, "
            f"CAST(ceil((CAST(_n AS DOUBLE) / {m})) AS INT) AS s)) "
            f"FILTER (WHERE (_n > {m}) AND ({blk} IS NOT NULL)) AS hot",
        )
        .collect()[0]
    )
    return BlockStats(int(row["rows"]), float(row["pairs"]), [(r["h"], r["s"]) for r in row["hot"]])


def blocked_pairs(
    members: DataFrame,
    block_col: str = "block_key",
    id_col: str = "id",
    max_rows_per_task: int = 2000,
    hot: list | None = None,
) -> DataFrame:
    """All unordered within-block pairs: (block_key, id_a, id_b, + payload).

    ``members`` must have one row per (block_key, id); every other column
    is carried as ``<col>_a`` / ``<col>_b`` payload for the scorer.

    ``hot``: the (key hash, splits) list of :func:`block_stats` when the
    caller already has it (the pipeline's pre-pass); without it one
    bounded collect computes it here. The list becomes a small broadcast
    table, an inline ``VALUES`` of integers that no job builds, joined on
    xxhash64 of the block key: no key text is ever written into SQL, so
    quotes, backslashes or any other character in a key cannot break it.
    Blocks not on it keep bucket 0. Splitting is exact for any number of
    buckets, so a block whose key hash collides with a hot one's (odds
    ~2^-64) is merely split too.
    """
    if hot is None:
        hot = block_stats(members, block_col, max_rows_per_task).hot
    payload = [c for c in members.columns if c not in (block_col, id_col)]
    blk, key = sql_name(block_col), sql_name(id_col)
    if hot:
        values = ", ".join(f"({int(h)}L, {int(n)})" for h, n in hot)
        table = members.sparkSession.sql(f"SELECT * FROM VALUES {values} AS t(_h, _s)")
        members = members.selectExpr("*", f"xxhash64({blk}) AS _h").join(
            table.hint("broadcast"), "_h", "left"
        )
        splits, bucket = "coalesce(_s, 1)", f"CAST(pmod(xxhash64({key}), coalesce(_s, 1)) AS INT)"
    else:
        splits, bucket = "1", "0"
    bucketed = members.selectExpr(
        blk, key, *map(sql_name, payload), f"{splits} AS _s", f"{bucket} AS _b"
    )
    # each a-row of bucket i meets the b-rows of buckets i..s-1: the s·(s+1)/2
    # UNORDERED bucket pairs of a block, so every bucket pair is its own
    # shuffle key and a hot block's pairs come from many tasks. Cross-bucket
    # pairs (i<j) are unique by construction (bucket is a function of id);
    # intra-bucket ones need the id_a<id_b guard.
    a = bucketed.selectExpr(
        blk, "_b AS _bi", "explode(sequence(_b, (_s - 1))) AS _bj", f"{key} AS id_a",
        *[f"{sql_name(c)} AS {sql_name(c + '_a')}" for c in payload],
    )
    b = bucketed.selectExpr(
        blk, "_b AS _bj", f"{key} AS id_b",
        *[f"{sql_name(c)} AS {sql_name(c + '_b')}" for c in payload],
    )
    joined = a.join(b, [block_col, "_bj"]).where("(_bi < _bj) OR (id_a < id_b)")
    # a cross-bucket pair can arrive reversed
    return joined.selectExpr(*ordered_pair_columns(blk, payload))


def ordered_pair_columns(blk: str, payload: list[str]) -> list[str]:
    """SQL select list of a pair table in output form: the block key
    ``blk`` (SQL text), then ``id_a < id_b`` with every payload column's
    ``<c>_a`` / ``<c>_b`` swapped alongside when a pair arrived reversed."""

    def ordered(x: str, y: str) -> str:
        """``x`` for a pair that arrived as id_a < id_b, else ``y``."""
        return f"CASE WHEN (id_a > id_b) THEN {y} ELSE {x} END AS {x}"

    out = [blk, ordered("id_a", "id_b"), ordered("id_b", "id_a")]
    for c in payload:
        ca, cb = sql_name(c + "_a"), sql_name(c + "_b")
        out += [ordered(ca, cb), ordered(cb, ca)]
    return out


def pairs_from_keys(
    keys: DataFrame,
    members: DataFrame,
    id_col: str = "id",
    max_rows_per_task: int = 2000,
    broadcast_byte_cap: int = BROADCAST_BYTE_CAP,
    n_members: int | None = None,
) -> DataFrame:
    """Candidate pairs from a skinny (id, block_key) key table.

    The scale-shape core: `keys` carries NO payload (one row per
    (id, blocking key) — composite stem keys and MinHash band keys
    alike), so the O(n²)-bounded self-join shuffles only ids; pairs are
    deduped on (id_a, id_b) keeping the least key; `members`' payload
    columns are joined back exactly once per surviving pair.

    ``n_members``: pass the member row count if the caller already knows
    it, to skip the gate's count job. The persisted key table is
    registered with :mod:`..persist` — call ``persist.release()`` after
    materializing the result (the persist only exists to keep the
    block-size pre-pass and the pair self-join from re-deriving the keys).
    """
    from .. import persist as _persist

    keys = _persist.register(keys.persist())
    pairs = blocked_pairs(keys, "block_key", id_col, max_rows_per_task)
    pairs = pairs.groupBy("id_a", "id_b").agg(F.min("block_key").alias("block_key"))
    payload = [c for c in members.columns if c != id_col]
    if payload:
        pa = members.select(
            F.col(id_col).alias("id_a"), *[F.col(c).alias(f"{c}_a") for c in payload]
        )
        pb = members.select(
            F.col(id_col).alias("id_b"), *[F.col(c).alias(f"{c}_b") for c in payload]
        )
        # Force broadcast when the payload genuinely fits: Catalyst's size
        # estimate of array payload (shingle/vector columns) overshoots
        # the autoBroadcast threshold and falls back to SortMergeJoin,
        # sorting the whole pair stream twice. Gate on ESTIMATED BYTES
        # (count × sampled mean row size, ×2 for the two broadcast
        # copies), not rows; above the cap the shuffled join is the right
        # plan anyway.
        if n_members is None:
            n_members = members.count()
        if estimated_broadcast_bytes(members, n_members) * 2 <= broadcast_byte_cap:
            pa, pb = F.broadcast(pa), F.broadcast(pb)
        pairs = pairs.join(pa, "id_a").join(pb, "id_b")
    return pairs


def multi_key_pairs(
    members: DataFrame,
    key_cols: list[str],
    id_col: str = "id",
    max_rows_per_task: int = 2000,
    n_members: int | None = None,
) -> DataFrame:
    """Pairs under several blocking-key columns, deduplicated.

    Used for MinHash banding: each band key is its own blocking key
    (north_rule stage 1 — banding keys are part of the composite key).
    Scale shape: key columns are EXPLODED into skinny (block_key, id)
    rows so candidate generation is ONE shuffle regardless of band count,
    pairs are deduped on (id_a, id_b), and the (wide) payload is joined
    back exactly once per surviving pair — payload bytes never fan out
    through the band replication.
    """
    keys = members.select(
        F.col(id_col),
        F.explode(F.array(*[F.col(k) for k in key_cols])).alias("block_key"),
    ).where(F.col("block_key").isNotNull())
    payload = members.select(
        id_col, *[c for c in members.columns if c not in key_cols and c != id_col]
    )
    return pairs_from_keys(keys, payload, id_col, max_rows_per_task, n_members=n_members)
