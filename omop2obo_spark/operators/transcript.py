"""Conversation-structure operators for agent-transcript corpora.

The input-table shape of this engine is multi-turn agent transcripts
(conv_id, turn_idx, role, text, tool, ts). Before any linking or corpus
curation, a real transcript pipeline validates STRUCTURE: are turns
contiguous, do roles alternate sensibly, how much of the conversation is
tool traffic, did it start with a user turn. These are the per-
conversation signals that gate a transcript into the training corpus.

Physical plan: one hash exchange on conv_id; the lag window and the
final aggregation share that partitioning, so Catalyst plans a single
shuffle (asserted in tests/test_plans.py). No UDFs, no collect_list of
whole turns — every signal is a conditional aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from omop2obo_spark.functions.text import tokens as word_tokens


def conversation_stats(transcripts: DataFrame) -> DataFrame:
    """Per-conversation structural signals, one row per conv_id:

      * ``n_turns``, ``n_user`` / ``n_assistant`` / ``n_tool_role``
      * ``first_role`` / ``last_role`` (by turn_idx)
      * ``alternation_violations`` — consecutive turns with the same role
      * ``gap_violations`` — turn_idx not exactly prev + 1 (holes or dups)
      * ``tool_call_frac`` — fraction of turns with a non-null ``tool``
      * ``avg_turn_chars`` (6dp)
      * ``well_formed`` — starts with a user turn, contiguous turn_idx,
        and no same-role runs: the standard keep predicate; callers with
        different policy compose their own from the raw signals.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    prev_role = F.lag("role").over(w)
    prev_idx = F.lag("turn_idx").over(w)
    t = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        F.length("text").alias("__chars"),
        (prev_role == F.col("role")).cast("int").alias("__same_role"),
        F.when(prev_idx.isNotNull() & (F.col("turn_idx") != prev_idx + 1), 1)
        .otherwise(0)
        .alias("__gap"),
    )
    agg = t.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).alias("n_user"),
        F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0)).alias("n_assistant"),
        F.sum(F.when(F.col("role") == "tool", 1).otherwise(0)).alias("n_tool_role"),
        F.min_by("role", "turn_idx").alias("first_role"),
        F.max_by("role", "turn_idx").alias("last_role"),
        F.coalesce(F.sum("__same_role"), F.lit(0)).alias("alternation_violations"),
        F.sum("__gap").alias("gap_violations"),
        F.round(F.avg(F.col("tool").isNotNull().cast("double")), 6).alias("tool_call_frac"),
        F.round(F.avg("__chars"), 6).alias("avg_turn_chars"),
        F.min("turn_idx").alias("__first_idx"),
    )
    return agg.select(
        "conv_id",
        "n_turns",
        "n_user",
        "n_assistant",
        "n_tool_role",
        "first_role",
        "last_role",
        "alternation_violations",
        "gap_violations",
        "tool_call_frac",
        "avg_turn_chars",
        (
            (F.col("first_role") == "user")
            & (F.col("alternation_violations") == 0)
            & (F.col("gap_violations") == 0)
            & (F.col("__first_idx") == 0)
        ).alias("well_formed"),
    )


def sft_spans(
    transcripts: DataFrame,
    trainable_roles: tuple[str, ...] = ("assistant",),
    sep: str = "\n",
) -> DataFrame:
    """Loss-mask spans for supervised fine-tuning: each turn's character
    interval ``[start_off, end_off)`` in the conversation rendered as the
    ``sep``-joined turn texts (ordered by turn_idx, null text rendered as
    the empty string), plus ``trainable`` — whether the turn's role is in
    ``trainable_roles``. This is the offsets table an SFT tokenizer uses
    to zero the loss on non-assistant spans without re-parsing the
    rendered text.

    Invariant (pinned in tests): ``rendered[start_off:end_off] == text``
    for every turn. Physical plan: one hash exchange on conv_id; the
    running offset is a native cumulative window sum — no UDFs, no
    collect_list of turn texts.
    """
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chars = F.coalesce(F.length("text"), F.lit(0))
    prior = F.coalesce(F.sum(chars + len(sep)).over(w), F.lit(0))
    return transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        prior.cast("long").alias("start_off"),
        (prior + chars).cast("long").alias("end_off"),
        F.col("role").isin(*trainable_roles).alias("trainable"),
    )


def preference_pairs(
    turns: DataFrame,
    score,
    margin: float = 0.0,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    prompt_role: str = "user",
    response_role: str = "assistant",
) -> DataFrame:
    """Mine (chosen, rejected) preference pairs from transcripts — the
    DPO/RLHF construction: conversations that posed the SAME prompt
    (identical ``prompt_role`` turn text) but got differently-scored
    ``response_role`` replies yield one pair per distinct prompt, chosen
    = highest-scored reply, rejected = lowest, kept only when
    ``chosen_score - rejected_score > margin``.

    ``score`` is a Column (or column name) evaluated on the response
    turn — compose with any scorer in this package
    (``textstats.unigram_logprob_score``, ``quality_features``, a reward
    column from upstream). Responses pair with the immediately preceding
    prompt turn (``turn_idx - 1``, same conversation).

    Determinism: ties in score break on (conv_id, turn_idx) via struct
    ordering, so the pair set is a pure function of the data. Groups
    with one response, or where every response scores equal, emit
    nothing (margin is a strict >; a pair needs an actual preference).

    Scale shape: one skew-free (conv, turn) equi-join to pair
    prompt/response, then ONE map-side-combinable min/max-struct
    aggregate on the md5 prompt key — a hot template prompt (the skew
    case: millions of identical "summarize this" prompts) partial-
    aggregates down to one row per partition before the shuffle, where
    a row_number-window spelling would serialize the hot key. Response
    text crosses the wire once, inside the struct.
    """
    s = F.col(score) if isinstance(score, str) else score
    # NULL prompts can't key a group and a NULL score can't be ranked —
    # both would poison struct comparison semantics; excluded explicitly.
    prompts = turns.filter(
        (F.col(role_col) == prompt_role) & F.col(text_col).isNotNull()
    ).select(
        F.col(conv_col).alias("__c"),
        F.col(turn_col).alias("__t"),
        F.col(text_col).alias("prompt"),
    )
    resps = turns.filter(
        (F.col(role_col) == response_role) & s.isNotNull()
    ).select(
        F.col(conv_col).alias("__c"),
        (F.col(turn_col) - 1).alias("__t"),
        F.struct(
            s.cast("double").alias("score"),
            F.col(conv_col).alias("conv_id"),
            F.col(turn_col).alias("turn_idx"),
            F.col(text_col).alias("response"),
        ).alias("cand"),
    )
    grouped = (
        prompts.join(resps, on=["__c", "__t"])
        .groupBy(F.md5("prompt").alias("prompt_key"))
        .agg(
            F.min("prompt").alias("prompt"),  # identical within a key
            F.max("cand").alias("__ch"),
            F.min("cand").alias("__rj"),
            F.count("*").cast("long").alias("n_responses"),
        )
    )
    return grouped.filter(
        F.col("__ch.score") - F.col("__rj.score") > F.lit(float(margin))
    ).select(
        "prompt_key",
        "prompt",
        "n_responses",
        F.col("__ch.conv_id").alias("chosen_conv"),
        F.col("__ch.turn_idx").alias("chosen_turn"),
        F.col("__ch.response").alias("chosen"),
        F.col("__ch.score").alias("chosen_score"),
        F.col("__rj.conv_id").alias("rejected_conv"),
        F.col("__rj.turn_idx").alias("rejected_turn"),
        F.col("__rj.response").alias("rejected"),
        F.col("__rj.score").alias("rejected_score"),
    )


def context_spans(
    transcripts: DataFrame,
    budget: int = 64,
    order_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Per turn, the maximal span of immediately-preceding turns whose
    total whitespace-token count fits ``budget`` — the context-assembly
    primitive for turning transcripts into budget-bounded SFT / eval
    examples (each example = context span + current turn as target).

    Pure prefix-sum + value-RANGE window frames; no self-join, no
    explode, one conv_id shuffle. Let Q_i be the EXCLUSIVE prefix token
    sum (tokens of all turns before i). Token counts are non-negative so
    Q is non-decreasing, and the turns that fit form a suffix of the
    prior turns: exactly those j with Q_j >= Q_i - budget. Both outputs
    read that suffix straight off RANGE frames ordered by Q:

      * ``n_ctx_turns``  = pos_i - count{ j : Q_j <= Q_i - budget - 1 }
        (frame: unbounded preceding .. (budget+1) preceding)
      * ``ctx_tokens``   = Q_i - min(Q) over [-budget, current]
      * ``first_ctx_turn_idx`` = min(turn_idx) over the same frame —
        equals the turn's own index when no prior turn fits, so the span
        is always the half-open [first_ctx_turn_idx, turn_idx).

    Zero-token turns tie on Q; value-RANGE frames include peers on both
    engines, so free-rider empty turns inside the window are counted
    identically (they add nothing to ctx_tokens). The whole operator is
    window arithmetic over integers — engine-portable, exact SQL oracle.
    """
    from omop2obo_spark.operators.textstats import whitespace_token_count

    # ONE spelling of the whitespace token-count contract (textstats owns
    # it); coalesce first — counting NULL text must yield 0, not NULL
    ntok = whitespace_token_count(F.coalesce(F.col(text_col), F.lit(""))).cast("bigint")
    wq = Window.partitionBy("conv_id").orderBy(order_col)
    pre = transcripts.select(
        "conv_id", order_col, ntok.alias("ntok")
    ).select(
        "conv_id",
        order_col,
        "ntok",
        (F.row_number().over(wq) - 1).cast("bigint").alias("pos"),
        F.coalesce(
            F.sum("ntok").over(wq.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("bigint"),
        ).alias("q"),
    )
    wr = Window.partitionBy("conv_id").orderBy("q")
    out_frame = wr.rangeBetween(Window.unboundedPreceding, -(budget + 1))
    in_frame = wr.rangeBetween(-budget, 0)
    return pre.select(
        "conv_id",
        order_col,
        F.col("ntok").alias("n_turn_tokens"),
        (F.col("pos") - F.count("*").over(out_frame)).alias("n_ctx_turns"),
        (F.col("q") - F.min("q").over(in_frame)).alias("ctx_tokens"),
        F.min(order_col).over(in_frame).alias("first_ctx_turn_idx"),
    )


def topic_segments(
    transcripts: DataFrame,
    threshold: float = 0.15,
    text_col: str = "text",
) -> DataFrame:
    """Lexical topic segmentation: split each conversation where the
    token-set Jaccard between consecutive turns drops below ``threshold``
    (the classic TextTiling-style boundary signal, reduced to its
    shuffle-minimal core) — the unit curation and chunking want when a
    single conversation spans several unrelated tasks.

    Per turn: ``jacc_prev`` (Jaccard of this turn's distinct token set vs
    the previous turn's; NULL on the first turn; 1.0 when both sets are
    empty — identical emptiness is not a shift), ``is_boundary`` (first
    turn or jacc_prev < threshold), ``segment_id`` (0-based running count
    of boundaries).

    One conv_id shuffle; the lag and the running sum share the same
    window sort. Set ops run on the in-row token arrays (array_intersect/
    array_union) — no token explode, no self-join; token arrays move
    through exactly one exchange.
    """
    # functions.text.tokens is THE corpus tokenizer (sketch/bm25/vocab share it);
    # composing it here keeps the boundary signal on the same token stream
    toks = F.array_distinct(word_tokens(F.coalesce(F.col(text_col), F.lit(""))))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = transcripts.select("conv_id", "turn_idx", toks.alias("toks"))
    prev = F.lag("toks").over(w)
    inter = F.size(F.array_intersect(F.col("toks"), prev))
    uni = F.size(F.array_union(F.col("toks"), prev))
    jacc = (
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .when(uni == 0, F.lit(1.0))
        .otherwise(inter.cast("double") / uni)
    )
    flagged = t.select(
        "conv_id",
        "turn_idx",
        F.round(jacc, 6).alias("jacc_prev"),
        (prev.isNull() | (jacc < F.lit(threshold))).alias("is_boundary"),
    )
    return flagged.withColumn(
        "segment_id",
        F.sum(F.col("is_boundary").cast("bigint")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
        - 1,
    )


def resolve_pronouns(
    transcripts: DataFrame,
    mentions: DataFrame,
    pronouns: tuple[str, ...] = ("it", "this", "that", "these", "those", "they", "them"),
    max_gap: int = 3,
) -> DataFrame:
    """Recency-heuristic pronoun coreference over detected mentions.

    A turn whose text contains an anaphor cue (``pronouns``, matched as
    whole lowercase tokens under the mention tokenizer's split rule)
    resolves to the most recent PRIOR turn's last detected mention in the
    same conversation — the classic recency baseline for conversational
    coreference (Hobbs-style search order, clause-level signals dropped).
    ``max_gap`` bounds how far back an anaphor may reach (antecedents
    decay fast in dialogue; unbounded reach produces junk chains).

    Inputs: ``transcripts (conv_id, turn_idx, text, ...)`` and
    ``mentions (conv_id, turn_idx, pos, surface, ...)`` — the
    :func:`~omop2obo_spark.plans.mention.detect_mentions` output (callers
    filter to the mention kinds they accept as antecedents). The anchor
    per turn is the LAST mention by token position — the nearest one
    looking backward from the following turn.

    Output: one row per resolved anaphor:
    ``(conv_id, turn_idx, pronoun, antecedent_turn, antecedent)``.

    Scale shape: the anchor aggregate and the backward-looking window
    both key on conv_id, so Catalyst reuses ONE hash exchange; the cue
    scan is a native higher-order filter over the token array (no UDF,
    no explode). Nothing here is quadratic in conversation length.
    """
    anchors = (
        mentions.groupBy("conv_id", "turn_idx")
        # max by (pos, surface): pos is the token start, unique per kind
        .agg(F.max(F.struct(F.col("pos"), F.col("surface"))).alias("__m"))
        .select("conv_id", "turn_idx", F.col("__m.surface").alias("__anchor"))
    )
    toks = word_tokens(F.col("text"))
    pron_arr = F.array(*[F.lit(p) for p in pronouns])
    # try_element_at: a turn with no cue yields NULL, not an index error
    first_pron = F.try_element_at(
        F.filter(toks, lambda t: F.array_contains(pron_arr, t)), F.lit(1)
    )
    turns = transcripts.select(
        "conv_id", "turn_idx", first_pron.alias("pronoun")
    )
    j = turns.join(anchors, ["conv_id", "turn_idx"], "left")
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ant = F.last(
        F.when(
            F.col("__anchor").isNotNull(),
            F.struct(F.col("turn_idx").alias("t"), F.col("__anchor").alias("s")),
        ),
        ignorenulls=True,
    ).over(w)
    return (
        j.withColumn("__ant", ant)
        .filter(
            F.col("pronoun").isNotNull()
            & F.col("__ant").isNotNull()
            & ((F.col("turn_idx") - F.col("__ant.t")) <= max_gap)
        )
        .select(
            "conv_id",
            "turn_idx",
            "pronoun",
            F.col("__ant.t").alias("antecedent_turn"),
            F.col("__ant.s").alias("antecedent"),
        )
    )


def reply_latency(
    transcripts: DataFrame,
    from_role: str = "user",
    to_role: str = "assistant",
) -> DataFrame:
    """Per-conversation reply-latency profile for one role transition:
    for every ``to_role`` turn directly following a ``from_role`` turn
    (by turn order), the latency is the timestamp delta in seconds.
    Output per conv_id: ``n_replies``, ``avg_latency_s`` (6dp),
    ``min_latency_s`` / ``max_latency_s``, and the exact interpolated
    median ``p50_latency_s`` — the conversational-responsiveness signal
    a transcript-curation pipeline thresholds on.

    One conv_id exchange shared by the lag window and the aggregation;
    latency is integer epoch arithmetic (no UDF). The exact percentile
    is per-conversation (bounded group), not global — the global-scale
    variant is the sketch tier's job.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = transcripts.select(
        "conv_id",
        "role",
        F.lag("role").over(w).alias("__prev_role"),
        (F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)).alias(
            "__lat"
        ),
    ).filter((F.col("role") == to_role) & (F.col("__prev_role") == from_role))
    return t.groupBy("conv_id").agg(
        F.count("*").alias("n_replies"),
        F.round(F.avg("__lat"), 6).alias("avg_latency_s"),
        F.min("__lat").alias("min_latency_s"),
        F.max("__lat").alias("max_latency_s"),
        F.round(F.percentile("__lat", 0.5), 6).alias("p50_latency_s"),
    )


def normalize_turn_order(transcripts: DataFrame) -> DataFrame:
    """Repair the (conv_id, turn_idx) ordering invariant the whole KG
    pipeline keys on (north rule: per-turn text equality under STABLE
    turn ordering). Raw transcript feeds violate it two ways: duplicate
    turn_idx (retried producer writes) and holes (dropped turns).

    Policy, per conversation:
      * colliding turn_idx keep ONE turn — earliest ts, then smallest
        text (a total, deterministic order: re-runs pick the same
        winner on any partitioning);
      * survivors re-index to contiguous ``new_turn_idx`` 0..n-1 in
        (turn_idx, ts, text) order;
      * every row carries ``was_dup`` (its key had collisions) and
        ``was_gap`` (its ORIGINAL turn_idx did not follow its
        predecessor's by exactly 1 — the audit trail for how dirty the
        feed was).

    Physical shape: the dedup is one map-side-combinable min-struct
    aggregation on (conv_id, turn_idx) — NO window over the possibly-hot
    duplicate key — and the re-index window shares the conv_id
    partitioning. Payload text moves once, inside the min-struct.
    """
    winner = F.min(
        F.struct(
            F.col("ts"),
            F.col("text"),
            F.col("role"),
            F.col("tool"),
        )
    ).alias("w")
    per_key = (
        transcripts.groupBy("conv_id", "turn_idx")
        .agg(winner, F.count("*").alias("__n"))
        .select(
            "conv_id",
            "turn_idx",
            F.col("w.role").alias("role"),
            F.col("w.text").alias("text"),
            F.col("w.tool").alias("tool"),
            F.col("w.ts").alias("ts"),
            (F.col("__n") > 1).alias("was_dup"),
        )
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts", "text")
    prev_idx = F.lag("turn_idx").over(w)
    return per_key.select(
        "conv_id",
        "turn_idx",
        (F.row_number().over(w) - 1).alias("new_turn_idx"),
        "role",
        "text",
        "tool",
        "ts",
        "was_dup",
        F.coalesce(F.col("turn_idx") - prev_idx != 1, F.col("turn_idx") != 0).alias(
            "was_gap"
        ),
    )
