"""Stage 1 — mention detection + (subj, pred, obj) triple extraction.

Reference analog: the software-mention import + per-document entity fold
(software_mention_import.py:61-130 blacklist/numeric filtering,
populate_from_mentions.py:167-266 per-document annotation processing).
There, extraction results arrive pre-computed from an external ML service
and are folded per-row in Python; here the extraction itself runs inside
Spark over transcript turns.

Extraction runs natively: ``regexp_extract_all`` + ``explode`` stays
fully JVM-side in whole-stage codegen. Tests pin it equal to an
``applyInPandas`` oracle (tests/test_extraction.py) that re-sorts turns
by ``turn_idx`` inside each conversation.

Blacklist filtering is a broadcast left-anti join (ref
software_mention_import.py:120-124 membership test) — at scale the
blacklist can be large, and an anti-join keeps it distributed; Catalyst
broadcasts the small side automatically.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from softcite_kb_spark.functions.text import is_number, norm_name

# Entity-name token: one or two Capitalized words (covers hyphen->space
# variants like "Stat Forge" and person names "Ada Lovelace"). The {0,63}
# bound is load-bearing: an unbounded `*` makes non-matching scans O(n^2)
# on pathological turns (one 100 KB token hung the regex for minutes);
# bounded, every pattern is O(len) per turn regardless of content.
NAME = r"[A-Z][A-Za-z0-9_+.\-]{0,63}(?: [A-Z][A-Za-z0-9_+.\-]{0,63})?"

PRED_DEPENDS = "depends_on"
PRED_USES = "uses"
PRED_WRITTEN_IN = "written_in"
PRED_CREATED_BY = "created_by"
PRED_LICENSED = "licensed_under"
PRED_VERSION = "has_version"

# (predicate, two-group regex). The object of has_version is a version
# literal, not an entity name.
TRIPLE_PATTERNS: list[tuple[str, str]] = [
    (PRED_DEPENDS, rf"({NAME}) depends on ({NAME})\."),
    (PRED_USES, rf"({NAME}) uses ({NAME}) internally"),
    (PRED_WRITTEN_IN, rf"({NAME}) is written in ({NAME})\."),
    (PRED_CREATED_BY, rf"({NAME}) was created by ({NAME})\."),
    (PRED_LICENSED, rf"({NAME}) is licensed under ({NAME})\."),
    (PRED_VERSION, rf"We ran ({NAME}) v(\d+\.\d+)"),
]

# Literal substring each built-in pattern REQUIRES (every match of the
# regex contains it verbatim): a turn without the literal cannot match,
# so a cheap contains() pre-check skips the regex scan entirely for that
# pattern. Keyed by the full (pred, regex) pair so caller-supplied
# pattern overrides never pick up a stale guard.
PATTERN_GUARDS: dict[tuple[str, str], str] = {
    (PRED_DEPENDS, TRIPLE_PATTERNS[0][1]): " depends on ",
    (PRED_USES, TRIPLE_PATTERNS[1][1]): " uses ",
    (PRED_WRITTEN_IN, TRIPLE_PATTERNS[2][1]): " is written in ",
    (PRED_CREATED_BY, TRIPLE_PATTERNS[3][1]): " was created by ",
    (PRED_LICENSED, TRIPLE_PATTERNS[4][1]): " is licensed under ",
    (PRED_VERSION, TRIPLE_PATTERNS[5][1]): "We ran ",
}


def _drop_last_char(s):
    from pyspark.sql import functions as FF

    return FF.substring(s, FF.lit(1), FF.length(s) - 1)


def _split_infix(lit: str, strip_dot: bool):
    """subj/obj recovery for a match of shape NAME + lit + NAME [+ '.'].

    The infix literal occurs EXACTLY once in any match: it starts with a
    space followed by a lowercase word, while inside a NAME the character
    after a space is [A-Z] — so a substring split reproduces the regex
    groups with two indexOf scans instead of two regex passes (measured
    ~2x on the extraction stage of this host, where regex cost per char
    is high)."""
    from pyspark.sql import functions as FF

    def split(m):
        subj = FF.substring_index(m, lit, 1)
        tail = FF.substring_index(m, lit, -1)
        return subj, _drop_last_char(tail) if strip_dot else tail

    return split


def _split_uses(m):
    from pyspark.sql import functions as FF

    subj = FF.substring_index(m, " uses ", 1)
    obj = FF.substring_index(
        FF.substring_index(m, " uses ", -1), " internally", 1)
    return subj, obj


def _split_version(m):
    # match = 'We ran ' + NAME + ' v' + digits: NAME cannot contain ' v'
    # (lowercase after space) and the version literal is digits/dots only,
    # so the single ' v' occurrence splits the groups exactly
    from pyspark.sql import functions as FF

    subj = FF.substring_index(FF.substring(m, 8, 2_147_483_647), " v", 1)
    obj = FF.substring_index(m, " v", -1)
    return subj, obj


# (pred, regex) -> (match Column) -> (subj Column, obj Column); exact
# non-regex group recovery for the built-in patterns (see _split_infix)
PATTERN_SPLITTERS: dict[tuple[str, str], object] = {
    (PRED_DEPENDS, TRIPLE_PATTERNS[0][1]):
        _split_infix(" depends on ", strip_dot=True),
    (PRED_USES, TRIPLE_PATTERNS[1][1]): _split_uses,
    (PRED_WRITTEN_IN, TRIPLE_PATTERNS[2][1]):
        _split_infix(" is written in ", strip_dot=True),
    (PRED_CREATED_BY, TRIPLE_PATTERNS[3][1]):
        _split_infix(" was created by ", strip_dot=True),
    (PRED_LICENSED, TRIPLE_PATTERNS[4][1]):
        _split_infix(" is licensed under ", strip_dot=True),
    (PRED_VERSION, TRIPLE_PATTERNS[5][1]): _split_version,
}

# predicates whose object is itself a software mention
SOFT_OBJ_PREDS = (PRED_DEPENDS, PRED_USES)

TRIPLE_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("subj", T.StringType()),
    T.StructField("pred", T.StringType()),
    T.StructField("obj", T.StringType()),
])


def ordered_turns(transcripts: DataFrame) -> DataFrame:
    """Stable turn ordering: attach per-conversation sequence number.

    north_rule requires extraction to observe turns in (conv_id, turn_idx)
    order regardless of file/row order. ``seq`` is the authoritative stable
    order; per-turn text equality tests compare against it.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return transcripts.withColumn("seq", F.row_number().over(w))


def conversation_view(transcripts: DataFrame,
                      max_turns: int | None = None) -> DataFrame:
    """One row per conversation with turns as an ordered struct array.

    ``sort_array`` on a struct whose first field is turn_idx gives a
    deterministic order without a shuffle-side sort — feed this to
    whole-conversation extractors.

    ``max_turns`` bounds the assembled array (first N turns by turn_idx):
    at 10^12-turn scale a single pathological conversation can exceed
    executor memory if collected whole; the cap is explicit, not silent —
    ``n_turns`` still reports the true count so truncation is observable.
    """
    out = (
        transcripts
        .groupBy("conv_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("turn_idx", "role", "text", "tool", "ts"))
            ).alias("turns"),
            F.count("*").cast("long").alias("n_turns"),
        )
    )
    if max_turns is not None:
        out = out.withColumn("turns", F.slice("turns", 1, max_turns))
    return out


def _blacklist_filter(
    df: DataFrame, col: str, blacklist: DataFrame | None
) -> DataFrame:
    """Drop rows whose ``col`` is blacklisted or numeric.

    Ref: software_mention_import.py:110-124 (blacklist file + 'SARS'
    substring + _is_number). Anti-join keeps the blacklist distributed;
    Catalyst broadcasts it when small.
    """
    out = df.filter(~is_number(F.col(col)))
    if blacklist is not None:
        bl = blacklist.select(F.col("term").alias("__bl_term")).distinct()
        out = out.join(
            F.broadcast(bl), F.upper(F.col(col)) == F.upper(F.col("__bl_term")),
            "left_anti",
        )
    return out


def extract_triples(
    transcripts: DataFrame,
    blacklist: DataFrame | None = None,
    patterns: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Native-path triple extraction: (conv_id, turn_idx, subj, pred, obj).

    One ``regexp_extract_all`` pair per pattern, zipped and exploded; the
    per-pattern branches are unioned. All expressions are JVM-side; a
    pattern that does not occur in a partition costs one regex scan, no
    Python. Blacklist/numeric filtering applies to every name slot (subj
    always; obj except for has_version whose object is a version literal).
    """
    pats = patterns or TRIPLE_PATTERNS
    base = transcripts.select("conv_id", "turn_idx", "text")
    # ONE scan: per-pattern match arrays are tagged with their predicate and
    # concatenated, then exploded once. A union of per-pattern branches
    # would re-scan the input once per pattern (6x I/O at 100 TB).
    #
    # Per-pattern cost is ONE full-text regex scan (group 0), not two:
    # subj/obj come from re-applying the pattern to each short MATCH
    # string, which reproduces the original groups exactly (the match is
    # the leftmost-preferred parse of exactly those characters; truncating
    # the text at the match boundary cannot make a more-preferred parse
    # succeed, since any such parse within the substring would also exist
    # in the full text). Built-in patterns additionally carry a required-
    # literal guard: contains() is an order of magnitude cheaper than a
    # regex scan, so turns without the literal skip the regex entirely.
    empty_matches = F.array().cast(
        "array<struct<subj:string,pred:string,obj:string>>")

    def tag(pred: str, pat: str):
        # factory keeps the lambda single-arg: transform() reinterprets a
        # second lambda param as the element index
        splitter = PATTERN_SPLITTERS.get((pred, pat))

        def to_struct(m):
            if splitter is not None:
                subj, obj = splitter(m)
            else:
                subj = F.regexp_extract(m, pat, 1)
                obj = F.regexp_extract(m, pat, 2)
            return F.struct(subj.alias("subj"), F.lit(pred).alias("pred"),
                            obj.alias("obj"))

        structs = F.transform(
            F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)),
            to_struct,
        )
        guard = PATTERN_GUARDS.get((pred, pat))
        if guard is None:
            return structs
        return F.when(F.contains(F.col("text"), F.lit(guard)),
                      structs).otherwise(empty_matches)

    tagged = [tag(pred, pat) for pred, pat in pats]
    triples = (
        base.select(
            "conv_id", "turn_idx",
            F.explode(F.concat(*tagged)).alias("m"))
        .select("conv_id", "turn_idx",
                F.col("m.subj").alias("subj"),
                F.col("m.pred").alias("pred"),
                F.col("m.obj").alias("obj"))
    )
    # subj is a name in every pattern: numeric filter + anti-join
    triples = _blacklist_filter(triples, "subj", blacklist)
    # obj is a name except for has_version (version literal) — single-scan:
    # a two-branch filter+union here would re-run the whole regex extraction
    # per branch (2x I/O); instead one predicate (and one LEFT join against
    # the blacklist) keeps a single pass over the source
    is_version = F.col("pred") == PRED_VERSION
    triples = triples.filter(is_version | ~is_number(F.col("obj")))
    if blacklist is not None:
        # distinct AFTER upper-casing: two case-variant terms must not
        # fan the left join out into duplicate rows
        bl = blacklist.select(F.upper(F.col("term")).alias("__bl_term")).distinct()
        triples = (
            triples.join(
                F.broadcast(bl),
                F.upper(F.col("obj")) == F.col("__bl_term"), "left")
            .filter(is_version | F.col("__bl_term").isNull())
            .drop("__bl_term")
        )
    return triples


def _gazetteer_surfaces(authority_entities: DataFrame):
    """Surface expansion shared by both gazetteer paths: label + aliases +
    case/hyphen variants, one row per surface."""
    from softcite_kb_spark.functions.text import capitalized_variant, hyphen_variant

    return authority_entities.select(
        F.explode(
            F.array_union(
                F.array_union(F.array("label"),
                              F.coalesce("aliases", F.array())),
                F.array_compact(F.array(
                    capitalized_variant(F.col("label")),
                    hyphen_variant(F.col("label")),
                )),
            )
        ).alias("surface"))


def extract_mentions_gazetteer(
    transcripts: DataFrame,
    authority_entities: DataFrame,
    extra_surfaces: Iterable[str] = (),
    max_surfaces: int = 100_000,
) -> DataFrame:
    """Gazetteer mention detection: find authority labels/aliases (and
    their case/hyphen variants) anywhere in turn text, independent of the
    triple trigger phrases.

    This is the in-engine analog of the reference's externally-supplied ML
    mention recognizer (software_mention_import.py ingests its output) —
    the curated-dictionary detector a KG pipeline runs when no recognizer
    service exists. Implementation: the surface list (small, curated) is
    compiled once per executor into a single alternation regex with word
    boundaries — longest-first so overlapping surfaces prefer the longest
    match — and applied via vectorized ``Series.str.findall`` in an
    Arrow-batched UDF. The gazetteer rides the closure (broadcast-like);
    at 10^12 rows the regex DFA cost per turn is O(len(text)).

    The alternation-regex design is bounded by construction: it collects
    the surface dictionary to the driver and compiles one regex, which is
    right for curated gazetteers (10^4) and wrong past ~10^5 surfaces
    (driver memory + regex compile + task-closure size). ``max_surfaces``
    fails fast at that bound — the collect itself is capped by a LIMIT
    probe, so an accidentally-huge dictionary can't OOM the driver either.
    Past the bound, use :func:`extract_mentions_token_join`, which keeps
    the dictionary distributed end-to-end.

    Returns (conv_id, turn_idx, surface).
    """
    import re

    probe = (
        _gazetteer_surfaces(authority_entities)
        .filter(F.length("surface") > 0)
        .distinct()
        .limit(max_surfaces + 1)
        .collect()
    )
    if len(probe) > max_surfaces:
        raise ValueError(
            f"gazetteer exceeds max_surfaces={max_surfaces}; the alternation-"
            "regex path collects surfaces to the driver — use "
            "extract_mentions_token_join for large dictionaries")
    surfaces = sorted({r[0] for r in probe} | set(extra_surfaces),
                      key=len, reverse=True)
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("surface", T.StringType()),
    ])

    surfaces = [s for s in surfaces if s]
    if not surfaces:
        # an empty alternation regex matches the empty string at every
        # position — return an empty frame instead
        return transcripts.sparkSession.createDataFrame([], schema=schema)

    pattern = re.compile(
        r"(?<![\w-])(" + "|".join(re.escape(s) for s in surfaces) + r")(?![\w-])")

    def find(pdf: pd.DataFrame) -> pd.DataFrame:
        hits = pdf["text"].str.findall(pattern)
        out = pdf[["conv_id", "turn_idx"]].copy()
        out["surface"] = hits
        out = out.explode("surface").dropna(subset=["surface"])
        out["turn_idx"] = out["turn_idx"].astype("int32")
        return out

    return (
        transcripts.select("conv_id", "turn_idx", "text")
        .mapInPandas(lambda it: (find(pdf) for pdf in it), schema=schema)
    )


_TOKEN_RE = r"[A-Za-z0-9_\-]+"
_CONFORMING_RE = r"^[A-Za-z0-9_\-]+( [A-Za-z0-9_\-]+)?$"


def extract_mentions_token_join(
    transcripts: DataFrame,
    authority_entities: DataFrame,
    extra_surfaces: Iterable[str] = (),
) -> DataFrame:
    """Scale-path gazetteer: token/bigram equi-join instead of a
    driver-compiled alternation regex.

    The surface dictionary stays a distributed DataFrame end-to-end (no
    ``collect()``, no regex compile, no closure shipping), so it scales to
    10^8 surfaces: turns explode into word unigrams+bigrams, matched by a
    hash join on the surface string — Catalyst broadcasts a small
    dictionary and shuffles a huge one.

    Semantics vs :func:`extract_mentions_gazetteer` (documented, tested):

      * token alphabet ``[A-Za-z0-9_-]`` with single-space bigrams —
        boundary- and whitespace-faithful to the regex path's
        ``(?<![\\w-])…(?![\\w-])`` lookarounds (bigram candidates are
        extracted positionally with an overlapping-lookahead regex, so
        "Stat  Forge" with two spaces does NOT match "Stat Forge");
        surfaces outside the alphabet (containing '.', '+', odd spacing)
        are ignored here — route those few through the bounded regex path
        and union.
      * emits ALL matching surfaces including overlapping ones, whereas the
        regex path consumes text leftmost-longest non-overlapping. For
        non-overlapping gazetteers (the common curated case) the outputs
        are identical.

    Returns (conv_id, turn_idx, surface).
    """
    surf = _gazetteer_surfaces(authority_entities)
    if extra_surfaces:
        extra = transcripts.sparkSession.createDataFrame(
            [(s,) for s in extra_surfaces], ["surface"])
        surf = surf.unionByName(extra)
    surf = surf.filter(F.col("surface").rlike(_CONFORMING_RE)).distinct()

    toks = F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), 0)
    # overlapping bigram spans: zero-width lookahead captures each
    # "tokA tokB" starting at a token boundary with EXACTLY one space —
    # the positional fidelity the regex path has
    bigram_re = rf"(?<![\w\-])(?=({_TOKEN_RE} {_TOKEN_RE}))"
    bigrams = F.regexp_extract_all(F.col("text"), F.lit(bigram_re), 1)
    cands = (
        transcripts.select(
            "conv_id", "turn_idx",
            F.explode(F.concat(toks, bigrams)).alias("surface"))
    )
    return cands.join(surf, "surface").select("conv_id", "turn_idx", "surface")


def mentions_from_triples(triples: DataFrame) -> DataFrame:
    """Derive software-mention rows from extracted triples.

    subjects of every predicate are software mentions; objects of
    depends_on/uses are too; the has_version object becomes the mention's
    ``version`` attribute (analog of the P348 version qualifier the
    reference attaches at populate_from_mentions.py:288-297).

    Single-scan: each triple emits a 1- or 2-element mention array exploded
    once. The earlier subj/obj filter+union formulation re-ran the whole
    upstream extraction per branch unless callers inserted an explicit
    materialization barrier.
    """
    subj_m = F.struct(
        F.col("subj").alias("surface"),
        F.when(F.col("pred") == PRED_VERSION, F.col("obj")).alias("version"))
    obj_m = F.struct(
        F.col("obj").alias("surface"),
        F.lit(None).cast("string").alias("version"))
    ms = F.when(F.col("pred").isin(*SOFT_OBJ_PREDS),
                F.array(subj_m, obj_m)).otherwise(F.array(subj_m))
    return (
        triples.select("conv_id", "turn_idx", F.explode(ms).alias("m"))
        .select("conv_id", "turn_idx",
                F.col("m.surface").alias("surface"),
                F.col("m.version").alias("version"))
    )


def fold_mentions(mentions: DataFrame) -> DataFrame:
    """Per-conversation same-name folding (A4).

    Ref: populate_from_mentions.py:173-266 — all same-(normalized-)name
    annotations inside one document fold into a single software entity.
    Native groupBy; map-side partial aggregation is free.
    """
    return (
        mentions
        .withColumn("norm_surface", norm_name(F.col("surface")))
        .groupBy("conv_id", "norm_surface")
        .agg(
            F.array_distinct(F.sort_array(F.collect_list("surface"))).alias("surfaces"),
            F.count("*").cast("long").alias("n_mentions"),
            F.array_distinct(
                F.sort_array(F.collect_list("version"))
            ).alias("versions"),
            F.min("turn_idx").alias("first_turn_idx"),
        )
    )
