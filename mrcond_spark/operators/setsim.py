"""Exact set-similarity self-join via prefix filtering (AllPairs/PPJoin
family: Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07;
Chaudhuri et al., "A Primitive Operator for Similarity Joins", ICDE'06).

The exact complement to the approximate near-dup tier (MinHash q47, SimHash
q48): returns EVERY pair of documents whose set Jaccard meets the threshold
— no recall dial, no probability knob — while never going all-pairs. The
*prefix filtering principle*: order each set's elements by a global total
order (ascending corpus frequency — rarest first, ties by element) and keep
only the first ``|s| - ceil(t*|s|) + 1`` elements as its *prefix*; any pair
with Jaccard >= t MUST share an element in both prefixes (with overlap
bound alpha = ceil(t*max(|x|,|y|)) >= ceil(t*|x|), the classic theorem
gives pair-tight prefix ``|x| - alpha + 1``; our per-set length is >= that
for every partner, so recall is exactly 1). Candidate generation is then an
equi-join on prefix elements only. Two structural wins at 100 TB:

- hot elements (stopword shingles, boilerplate grams) have maximal
  frequency, sort LAST, and never enter a prefix — the candidate join's key
  distribution is capped by construction, the opposite of a naive token
  self-join whose heaviest key joins quadratically;
- every surviving pair is verified with an exact JVM array intersection, so
  a false positive costs one comparison, never a wrong answer.

The threshold is a RATIONAL ``t_num/t_den`` and every gate is integer
arithmetic (``t_den*inter >= t_num*union``), so there is no float-boundary
ambiguity anywhere — the output is bit-identical to an all-pairs oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import pin_width


def prefix_setsim_join(
    sets: DataFrame,
    id_col: str = "id",
    set_col: str = "toks",
    t_num: int = 1,
    t_den: int = 2,
) -> DataFrame:
    """All pairs (id_a < id_b) from ``sets`` whose Jaccard >= t_num/t_den.

    ``sets`` carries one row per item: (``id_col``, ``set_col``) with
    ``set_col`` an array of DISTINCT elements (the caller picks the
    representation — word n-gram shingles for documents, feature ids for
    sparse vectors). Returns ``(id_a, id_b, inter, sz_a, sz_b, jaccard)``
    — ``inter`` the exact intersection size, ``jaccard`` the double ratio
    (display only; the gate itself is integer-exact).

    Plan shape / 100 TB: (1) one (element) shuffle builds global element
    frequencies with map-side partials; (2) the frequency join back is
    hot-keyed only on ubiquitous elements, each matching a single frequency
    row (AQE skew-split territory, duplication cost nil); (3) one (id)
    shuffle assembles the frequency-sorted element array; (4) the prefix
    equi-join shuffles only prefix elements — rare by construction — with a
    pair-length gate (``t_den*min >= t_num*max``) applied inside the join
    before any pair materializes; (5) verify joins the deduped candidate
    ids back to the set arrays and intersects JVM-side — cost tracks
    |candidates|, not |corpus|. If ``sets`` derives from an expensive
    upstream (a UDF shingler), the caller decides materialize-vs-recompute
    per the repo's measured rule; cheap Arrow shinglers recompute faster
    than they checkpoint.
    """
    sets = sets.select(F.col(id_col).alias("id"), F.col(set_col).alias("toks"))
    toks = sets.select("id", F.explode("toks").alias("tok"))
    freq = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    # Width pin (pin_width) at the THIN upstream exchange: it replaces the
    # groupBy(id)'s own exchange, and everything downstream (prefix posting,
    # candidate join output on the probe side, pair dedup on (id_a, ...) ⊇
    # {id}, and both broadcast verify joins) inherits the full-width hash(id)
    # layout. collect_list partials never shrink shuffle volume anyway.
    ranked = (
        pin_width(toks.join(freq, "tok"), "id")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("tf", "tok"))).alias("ord"))
    )
    sz = F.size("ord")
    # integer ceil(t*sz) = (t_num*sz + t_den - 1) div t_den — no float ever
    plen = sz - F.floor((F.lit(t_num) * sz + t_den - 1) / t_den).cast("int") + 1
    prefix = ranked.select(
        "id",
        sz.alias("sz"),
        F.posexplode(F.transform(F.slice("ord", F.lit(1), plen), lambda s: s["tok"])),
    ).select("id", "sz", F.col("pos").alias("p"), F.col("col").alias("tok"))
    a, b = prefix.alias("a"), prefix.alias("b")
    # overlap requirement for J >= n/d:  d*o >= n*(a+b-o)  =>
    # o >= ceil(n*(a+b) / (n+d)) — integer arithmetic only.
    alpha = F.floor(
        (F.lit(t_num) * (F.col("a.sz") + F.col("b.sz")) + t_num + t_den - 1)
        / (t_num + t_den)
    ).cast("int")
    # PPJoin positional filter: both arrays share one global (frequency,
    # element) order, so for a pair's FIRST common element there are no
    # common elements before it and overlap <= 1 + min(remaining either
    # side). Every qualifying pair survives via that row (it sits in both
    # prefixes by the prefix theorem), so recall stays exactly 1; rows
    # failing the gate are redundant candidates from later common elements.
    pos_ok = (
        1 + F.least(F.col("a.sz") - 1 - F.col("a.p"), F.col("b.sz") - 1 - F.col("b.p"))
        >= alpha
    )
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id"))
            # length gate: J >= t  =>  t_den*min(sz) >= t_num*max(sz)
            & (
                F.lit(t_den) * F.least("a.sz", "b.sz")
                >= F.lit(t_num) * F.greatest("a.sz", "b.sz")
            )
            & pos_ok,
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .distinct()
    )
    # Verify legs carry no repartition of their own. At scale AQE turns
    # BOTH verify joins into broadcasts (the sets side is small relative to
    # the candidate volume), so a repartition(id_b) here would ship
    # candidates WITH the attached toks_a arrays — 33.8 GiB of exchange at
    # sf1 (OPTIMIZATION_r12.md) for a join with no distribution
    # requirement. The width pin at the thin ranked exchange above flows
    # through (hash(id) == hash(id_a) through the probe-side candidate join
    # and the pair dedup), so the verify runs full-width with ZERO
    # exchanges downstream of candidate generation. Where a future scale
    # tips the verify joins back to sort-merge, EnsureRequirements inserts
    # the needed exchanges.
    sa = sets.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"))
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("toks_a", "toks_b")))
        .filter(F.lit(t_den) * F.col("inter") >= F.lit(t_num) * union)
        .select(
            "id_a",
            "id_b",
            F.col("inter").cast("bigint").alias("inter"),
            F.col("sz_a").cast("bigint").alias("sz_a"),
            F.col("sz_b").cast("bigint").alias("sz_b"),
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def prefix_containment_join(
    sets: DataFrame,
    id_col: str = "id",
    set_col: str = "toks",
    t_num: int = 3,
    t_den: int = 4,
) -> DataFrame:
    """All ORDERED pairs (id_a != id_b) with containment
    ``|A ∩ B| / |A| >= t_num/t_den`` — the asymmetric complement to
    :func:`prefix_setsim_join`. Jaccard misses subset relationships (a
    paragraph quoted inside a much longer document scores a low Jaccard but
    containment ~1.0); this is the dedup signal for verbatim-inclusion /
    boilerplate-subsumption in a training corpus.

    Prefix theorem, containment form: C(A->B) >= t requires overlap >=
    ceil(t*|A|); A's rare-first prefix of length ``|A| - ceil(t*|A|) + 1``
    leaves a suffix of only ``ceil(t*|A|) - 1`` elements, which cannot hold
    the whole overlap — so at least one overlap element lands in A's
    prefix. The PROBE side therefore posts prefix elements only; the INDEX
    side must post ALL elements (the asymmetry's price — there is no
    length gate either, since a tiny A may be contained in a huge B).
    Recall is exactly 1; every gate is integer arithmetic.

    Plan shape / 100 TB: same element-frequency and assembly shuffles as
    the Jaccard join; the candidate equi-join keys are A-side RARE-first
    prefix elements, so the index side's hot (boilerplate) elements match
    almost no probes — the key-skew cap still holds even though the index
    posts everything. Verify is one exact JVM ``array_intersect`` per
    deduped candidate pair.

    Returns ``(id_a, id_b, inter, sz_a, sz_b, containment)`` where
    ``containment = inter / sz_a`` (display only; the gate is integer).
    """
    sets = sets.select(F.col(id_col).alias("id"), F.col(set_col).alias("toks"))
    toks = sets.select("id", F.explode("toks").alias("tok"))
    freq = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    # same thin-exchange width pin as prefix_setsim_join
    ranked = (
        pin_width(toks.join(freq, "tok"), "id")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("tf", "tok"))).alias("ord"))
    )
    sz = F.size("ord")
    plen = sz - F.floor((F.lit(t_num) * sz + t_den - 1) / t_den).cast("int") + 1
    probe = ranked.select(
        F.col("id").alias("id_a"),
        sz.alias("sz_a"),
        F.posexplode(F.transform(F.slice("ord", F.lit(1), plen), lambda s: s["tok"])),
    ).select("id_a", "sz_a", F.col("pos").alias("pa"), F.col("col").alias("tok"))
    index = ranked.select(
        F.col("id").alias("id_b"),
        sz.alias("sz_b"),
        F.posexplode(F.transform("ord", lambda s: s["tok"])),
    ).select("id_b", "sz_b", F.col("pos").alias("pb"), F.col("col").alias("tok"))
    # PPJoin positional filter, containment form: both arrays share one
    # global (frequency, element) order, so for a pair's FIRST common
    # element (which the prefix theorem puts in A's prefix) there are no
    # common elements before it, hence overlap <= 1 + min(remaining_a,
    # remaining_b). A valid pair always survives via that row — rows
    # failing the gate are redundant, so recall stays exactly 1. Measured
    # at sf0.1: 391k -> 235k candidate pairs; hot (boilerplate) elements
    # sort LAST on the index side, so this prunes precisely the hot-key
    # join rows the skew cap cares about.
    need = F.floor((F.lit(t_num) * F.col("sz_a") + t_den - 1) / t_den).cast("int")
    pos_ok = 1 + F.least(
        F.col("sz_a") - 1 - F.col("pa"), F.col("sz_b") - 1 - F.col("pb")
    ) >= need
    cand = (
        probe.join(index, "tok")
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(pos_ok)
        .select("id_a", "id_b", "sz_a")
        .distinct()
    )
    # same verify-leg layout as prefix_setsim_join (rationale there)
    sa = sets.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("toks_a", "toks_b")))
        .filter(F.lit(t_den) * F.col("inter") >= F.lit(t_num) * F.col("sz_a"))
        .select(
            "id_a",
            "id_b",
            F.col("inter").cast("bigint").alias("inter"),
            F.col("sz_a").cast("bigint").alias("sz_a"),
            F.size("toks_b").cast("bigint").alias("sz_b"),
            F.round(
                F.col("inter").cast("double") / F.col("sz_a").cast("double"), 6
            ).alias("containment"),
        )
    )
