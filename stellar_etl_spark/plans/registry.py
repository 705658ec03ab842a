"""Query registry — the analog of the reference's 11 CLI export commands
(``cmd/export_*.go``), each entry binding a Spark dataflow to the DuckDB
oracle SQL the driver uses for correctness checking.

Every entry: name → (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None).
Column names/aliases are kept identical on both sides (the driver's compare
sorts columns by name before value-hashing).

Cross-engine parity rules used throughout:

- conv_seq is ``user_id`` (SQL-reproducible), not the engine's default
  xxhash64 — extractors take it as an override column;
- epoch seconds via floor() on both sides (Spark ``unix_timestamp`` floors);
- exact money sums via DECIMAL then cast to double (bit-exact in IEEE754 —
  double-sum association order differs between engines, decimal does not);
- regex classes restricted to the Java∩RE2 common subset.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from stellar_etl_spark.functions import text as textfn
from stellar_etl_spark.functions.similarity import cosine_topk
from stellar_etl_spark.operators import (
    compact_last_state,
    extract_conversations,
    extract_effects,
    extract_pairs,
    extract_sessions,
    extract_star_schema,
    extract_turns,
    extract_units,
    first_seen_dedup,
    time_range,
)
from stellar_etl_spark.operators.conversations import extract_conversations_windowed
from stellar_etl_spark.operators.dims import denormalize
from stellar_etl_spark.plans.transcript_view import TRANSCRIPTS_CTE, transcripts_from_events
from stellar_etl_spark.sources.batches import with_batch_bounds
from stellar_etl_spark.session import scoped_conf

QueryFn = Callable[[SparkSession, str], DataFrame]

def _seq():
    # lazy: F.col needs an active session in classic mode
    return F.col("conv_seq")


def _scaled_read(spark: SparkSession, path: str, key: str) -> DataFrame:
    """Parquet read that spreads UNSPLITTABLE inputs across the machine.

    A single-row-group parquet file scans as ONE task no matter what
    ``maxPartitionBytes`` says (splits map to row groups), so every heavy
    narrow projection stacked on it — regex quality features, shingling,
    O(dim) vector folds, mapInPandas decoders — runs serially while the
    other 31 cores idle (guide §2.5 "input skew ... one huge unsplittable
    file: repartition immediately after the read"). When the scan has fewer
    partitions than half the cores, add ONE deterministic hash exchange on
    the table key (a few MB of raw rows — measured 10.4 -> 2.5 s on
    doc_quality at sf1.0). At real scale inputs arrive as many
    files/row-groups, the gate never fires, and the plan is unchanged."""
    df = spark.read.parquet(path)
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(par // 2, 2):
        df = df.repartition(par, F.col(key))
    return df

# Reusable DuckDB fragments mirroring the engine's column functions.
_SQL_NTOK = (
    "CAST(CASE WHEN trim(coalesce(text,'')) = '' THEN 0 "
    "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)"
)
_SQL_TURN_ID = "(conv_seq << 32) | (CAST(turn_idx & 1048575 AS BIGINT) << 12)"
_SQL_SUCCESSFUL = "NOT starts_with(coalesce(text,''), 'error:')"
_SQL_NORM = (
    "trim(regexp_replace(regexp_replace(lower(coalesce(text,'')), "
    "'[^\\p{L}\\p{N}\\s]', '', 'g'), '\\s+', ' ', 'g'))"
)


# --- T2 turns ---------------------------------------------------------------
def q_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_turns(transcripts_from_events(spark, sf_dir), conv_seq=_seq())


SQL_TURNS = f"""{TRANSCRIPTS_CTE}
SELECT
  {_SQL_TURN_ID} AS turn_id,
  conv_id,
  conv_seq,
  turn_idx,
  role,
  CAST(CASE role WHEN 'user' THEN 0 WHEN 'assistant' THEN 1
                 WHEN 'tool' THEN 2 WHEN 'system' THEN 3 ELSE -1 END AS INTEGER) AS role_code,
  tool,
  text,
  sha256(coalesce(text, '')) AS text_sha256,
  base64(encode(text)) AS text_b64,
  CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,
  {_SQL_NTOK} AS n_tokens,
  {_SQL_SUCCESSFUL} AS successful,
  ts,
  printf('[%d,%d)', CAST(floor(epoch(ts)) AS BIGINT), CAST(floor(epoch(ts)) AS BIGINT) + 1) AS ts_interval
FROM transcripts
"""


# --- S12 GetAllHistory fan-out (driver-facing) -------------------------------
def q_fanout_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL shared-scan fan-out path (S12, run_fanout_export): one
    streaming scan feeds three extractor sinks per micro-batch; this query
    returns the TURNS sink's merged content, which must equal the plain
    batch turns projection (oracle = SQL_TURNS) — so the fan-out plumbing,
    multi-sink epoch commit, and merge-on-read are driver-hash-checked
    (previously pytest-only)."""
    import shutil
    import tempfile

    from stellar_etl_spark.generator import write_transcripts
    from stellar_etl_spark.operators import extract_effects, extract_units
    from stellar_etl_spark.streaming.pipeline import run_fanout_export

    work = tempfile.mkdtemp(prefix="fanout_q_")
    try:
        src = f"{work}/src"
        # r6: hash repartition, not coalesce(4) — coalesce collapses the
        # transcripts derivation (scan + turn_idx window) into 4 tasks for
        # the WRITE too. 32 files because the sink's output coalesce bounds
        # each micro-batch's WHOLE extractor computation at
        # min(batch_files, output_partitions) tasks (coalesce propagates up
        # to the scan): 8f/out4 ran the three extractors 4-wide (19.7 s
        # stream at sf1.0), 32f/out16 runs them 16-wide (7.8 s).
        write_transcripts(
            transcripts_from_events(spark, sf_dir).repartition(32, F.col("conv_id")),
            src,
            partition_by_day=False,
        )
        n_files = len(_data_files(src))
        # the written table carries only the TRANSCRIPTS schema; the
        # SQL-reproducible conv_seq is recoverable from the conv_id format
        # ('conv_%08d' of the same number)
        seq = F.expr("CAST(substring(conv_id, 6) AS BIGINT)")
        # 16 (not 8): the 3-extractor fan-out is the one compute-bound
        # harness — A/B at sf0.1 showed 8/16/32 within noise, so keep the
        # parallelism headroom while still trimming state/commit overhead
        with _harness_partitions(spark, 16):
            sinks = run_fanout_export(
                spark,
                src,
                {
                    "turns": lambda df: extract_turns(df, conv_seq=seq),
                    "units": lambda df: extract_units(df, conv_seq=seq),
                    "effects": lambda df: extract_effects(df, conv_seq=seq),
                },
                f"{work}/out",
                f"{work}/ck",
                keys={
                    "turns": ("conv_id", "turn_idx"),
                    "units": ("conv_id", "turn_idx", "unit_idx"),
                    "effects": ("conv_id", "turn_idx", "effect_index"),
                },
                # two micro-batches (the multi-epoch commit path stays
                # exercised) over the data files
                max_files_per_trigger=(n_files + 1) // 2,
                output_partitions=16,
            )
        out = sinks["turns"].read_sink(spark)
        # r6: executor-side materialization — the old limit+collect+
        # createDataFrame moved 10^6 wide rows driver-side through pickle
        # twice (~15 s at bench scale; guide §5)
        res = out.localCheckpoint(eager=True)
        if res.count() > 1_000_000:
            raise RuntimeError("fanout harness is for driver-check scale only")
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --- T3 raw passthrough (TransformLedgerTransaction,
# transform/ledger_transaction.go:13-58: raw envelope + minimal header) ------
def q_turns_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    tv = transcripts_from_events(spark, sf_dir)
    return tv.select(
        F.col("conv_id"),
        F.col("turn_idx"),
        F.base64(F.col("text").cast("binary")).alias("raw_b64"),
        F.col("ts"),
    )


SQL_TURNS_RAW = f"""{TRANSCRIPTS_CTE}
SELECT conv_id, turn_idx, base64(encode(text)) AS raw_b64, ts
FROM transcripts
"""


# --- T1/A1 conversations ----------------------------------------------------
def q_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_conversations(transcripts_from_events(spark, sf_dir), conv_seq=_seq())


SQL_CONVERSATIONS = f"""{TRANSCRIPTS_CTE}
SELECT
  conv_id,
  conv_seq,
  CAST(count(*) AS BIGINT) AS n_turns,
  CAST(count(*) FILTER (WHERE role = 'user') AS BIGINT) AS n_user,
  CAST(count(*) FILTER (WHERE role = 'assistant') AS BIGINT) AS n_assistant,
  CAST(count(*) FILTER (WHERE role = 'tool') AS BIGINT) AS n_tool,
  CAST(count(*) FILTER (WHERE role = 'system') AS BIGINT) AS n_system,
  CAST(count(*) FILTER (WHERE {_SQL_SUCCESSFUL}) AS BIGINT) AS n_successful,
  CAST(count(*) FILTER (WHERE NOT ({_SQL_SUCCESSFUL})) AS BIGINT) AS n_failed,
  CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS total_chars,
  CAST(sum({_SQL_NTOK}) AS BIGINT) AS total_tokens,
  min(ts) AS opened_at,
  max(ts) AS closed_at,
  CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS DOUBLE) AS duration_sec
FROM transcripts
GROUP BY conv_id, conv_seq
"""


# --- S4 tumbling-window conversations --------------------------------------
def q_conversations_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_conversations_windowed(transcripts_from_events(spark, sf_dir), "5 minutes")


SQL_CONVERSATIONS_WINDOWED = f"""{TRANSCRIPTS_CTE}
SELECT
  make_timestamp(CAST(floor(epoch(ts) / 300) * 300 * 1000000 AS BIGINT)) AS window_start,
  make_timestamp(CAST((floor(epoch(ts) / 300) * 300 + 300) * 1000000 AS BIGINT)) AS window_end,
  conv_id,
  CAST(count(*) AS BIGINT) AS n_turns,
  CAST(count(*) FILTER (WHERE role = 'user') AS BIGINT) AS n_user,
  CAST(count(*) FILTER (WHERE role = 'assistant') AS BIGINT) AS n_assistant,
  CAST(count(*) FILTER (WHERE role = 'tool') AS BIGINT) AS n_tool,
  CAST(count(*) FILTER (WHERE role = 'system') AS BIGINT) AS n_system,
  CAST(count(*) FILTER (WHERE {_SQL_SUCCESSFUL}) AS BIGINT) AS n_successful,
  CAST(count(*) FILTER (WHERE NOT ({_SQL_SUCCESSFUL})) AS BIGINT) AS n_failed,
  CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS total_chars,
  CAST(sum({_SQL_NTOK}) AS BIGINT) AS total_tokens,
  min(ts) AS opened_at,
  max(ts) AS closed_at
FROM transcripts
GROUP BY 1, 2, 3
"""


# --- T4 units ---------------------------------------------------------------
_UNIT_COLS = [
    "unit_id", "turn_id", "conv_id", "turn_idx", "unit_idx",
    "unit_type", "unit_type_code", "payload", "ts",
]


def q_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    # details map excluded here: map columns don't hash portably across
    # engines; tests cover the map contents directly.
    return extract_units(transcripts_from_events(spark, sf_dir), conv_seq=_seq()).select(*_UNIT_COLS)


SQL_UNITS = f"""{TRANSCRIPTS_CTE},
base AS (
  SELECT *,
    CASE WHEN trim(coalesce(text,'')) = '' THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks,
    (role = 'tool') AS is_tool
  FROM transcripts
),
expl AS (
  SELECT *,
    CAST(unnest(range(0, CASE WHEN is_tool THEN 1
      ELSE greatest(CAST(ceil(len(toks) / 8.0) AS INTEGER), 1) END)) AS INTEGER) AS unit_idx
  FROM base
)
SELECT
  {_SQL_TURN_ID} | CAST(unit_idx & 4095 AS BIGINT) AS unit_id,
  {_SQL_TURN_ID} AS turn_id,
  conv_id,
  turn_idx,
  unit_idx,
  CASE WHEN is_tool THEN 'tool_call' ELSE 'span' END AS unit_type,
  CAST(CASE WHEN is_tool THEN 1 ELSE 0 END AS INTEGER) AS unit_type_code,
  CASE WHEN is_tool THEN array_to_string(toks, ' ')
       ELSE array_to_string(toks[unit_idx * 8 + 1 : unit_idx * 8 + 8], ' ') END AS payload,
  ts
FROM expl
"""


# --- T4 per-type details (operation.go:584-1184 switch breadth) --------------
def _sql_unit_detail_cols() -> str:
    """One ``d_<key>`` column per detail key, generated from the SAME arm
    table the Spark details map is built from (operators/units.py UNIT_ARMS)
    — a key produced by several arms becomes a first-match CASE chain."""
    from stellar_etl_spark.operators.units import DETAIL_KEYS, UNIT_ARMS

    cols = []
    for key in DETAIL_KEYS:
        whens = []
        for a in UNIT_ARMS:
            if a.key != key:
                continue
            base = "is_tool" if a.unit == "tool" else "NOT is_tool"
            cond = base if a.sql_cond is None else f"{base} AND ({a.sql_cond})"
            whens.append(f"WHEN {cond} THEN {a.sql_val}")
        cols.append(f"  CASE {' '.join(whens)} END AS d_{key}")
    return ",\n".join(cols)


def q_units_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide projection of the per-unit-type details switch: one nullable
    column per detail key (map cells don't hash portably; typed columns do).
    Exercises every UNIT_ARMS arm (28 total) — 7 tool-kind + error-kind
    arms, the result-dependent/value-shape/price/data-key/balance-id tool
    arms (the operation.go:700-820 sub-switch shapes), 3 role-specific span
    arms, 3 payload-shape arms, the path-list arm, flag arms, and the base
    span/tool maps — against the oracle generated from the SAME table (the
    driver tables fire the purchase/error/json/role/shape arms at sf0.01;
    the generator vocabulary fires the other 5 tool kinds in pytest)."""
    from stellar_etl_spark.operators.units import detail_columns, units_base

    base = units_base(transcripts_from_events(spark, sf_dir), conv_seq=_seq())
    return base.select(
        "unit_id",
        "conv_id",
        "turn_idx",
        F.col("unit_idx").cast("int").alias("unit_idx"),
        "unit_type",
        *detail_columns(),
        "ts",
    )


SQL_UNITS_DETAILS = f"""{TRANSCRIPTS_CTE},
base AS (
  SELECT *,
    CASE WHEN trim(coalesce(text,'')) = '' THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks,
    (role = 'tool') AS is_tool
  FROM transcripts
),
expl AS (
  SELECT *,
    CAST(unnest(range(0, CASE WHEN is_tool THEN 1
      ELSE greatest(CAST(ceil(len(toks) / 8.0) AS INTEGER), 1) END)) AS INTEGER) AS unit_idx
  FROM base
),
withp AS (
  SELECT *,
    CASE WHEN is_tool THEN array_to_string(toks, ' ')
         ELSE array_to_string(toks[unit_idx * 8 + 1 : unit_idx * 8 + 8], ' ') END AS payload
  FROM expl
)
SELECT
  {_SQL_TURN_ID} | CAST(unit_idx & 4095 AS BIGINT) AS unit_id,
  conv_id,
  turn_idx,
  unit_idx,
  CASE WHEN is_tool THEN 'tool_call' ELSE 'span' END AS unit_type,
{_sql_unit_detail_cols()},
  ts
FROM withp
"""


# --- T5 effects -------------------------------------------------------------
_EFFECT_COLS = [
    "effect_id", "turn_id", "conv_id", "turn_idx", "effect_index",
    "effect_type", "effect_type_string", "ts",
]


def q_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_effects(transcripts_from_events(spark, sf_dir), conv_seq=_seq()).select(*_EFFECT_COLS)


def q_effects_contextual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full emitter table (row-local + lag-context + state-diff + per-tool
    group + sponsorship-chain rules, codes 0-45)."""
    from stellar_etl_spark.operators.effects import extract_effects_contextual

    return extract_effects_contextual(
        transcripts_from_events(spark, sf_dir), conv_seq=_seq()
    ).select(*_EFFECT_COLS)


def q_effects_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every emitter's details map, one typed VARCHAR column per detail key
    (the units_details pattern — map cells don't hash portably; typed
    columns do). Hash-covers the details VALUES of all 46 rules."""
    from stellar_etl_spark.operators.effects import DETAIL_KEYS, extract_effects_contextual

    eff = extract_effects_contextual(transcripts_from_events(spark, sf_dir), conv_seq=_seq())
    return eff.select(
        *_EFFECT_COLS,
        *[F.col("details")[k].alias(f"d_{k}") for k in DETAIL_KEYS],
    )


def _sql_effects(contextual: bool, with_details: bool = False) -> str:
    """Generate the DuckDB oracle from the SAME rule table the Spark emitters
    are built from (operators/effects.py EFFECT_RULES) — condition, dense
    effect_index, and (with_details) every details value per rule."""
    from stellar_etl_spark.operators.effects import (
        DETAIL_KEYS,
        EFFECT_RULES,
        LONG_TURN_TOKENS,
    )

    rules = [r for r in EFFECT_RULES if contextual or not r.contextual]
    # coalesce to FALSE: a NULL predicate (lag signals at partition start)
    # must mean "did not fire" exactly like Spark's F.when(NULL) — and must
    # not NULL-poison the effect_index flag sums below
    flags = ",\n    ".join(f"(coalesce({r.sql_cond}, FALSE)) AS e{r.code}" for r in rules)
    ctx_cte = ""
    src = "succ"
    if contextual:
        w = "PARTITION BY conv_id ORDER BY turn_idx"
        prior = f"{w} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
        cum = f"{w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        tw = "PARTITION BY conv_id, tool ORDER BY turn_idx"
        ctx_cte = f""",
ctxd AS (
  SELECT *,
    lag(ts) OVER ({w}) AS prev_ts,
    lag(role) OVER ({w}) AS prev_role,
    last_value(tool IGNORE NULLS) OVER ({prior}) AS prev_tool,
    count(*) FILTER (WHERE role = 'assistant') OVER ({prior}) AS n_prior_assistant,
    count(*) FILTER (WHERE role = 'tool') OVER ({prior}) AS n_prior_tool,
    count(*) FILTER (WHERE role = 'user') OVER ({prior}) AS n_prior_user,
    count(*) FILTER (WHERE ntok > {LONG_TURN_TOKENS}) OVER ({prior}) AS n_prior_long,
    max(turn_idx) OVER (PARTITION BY conv_id) AS max_turn_idx,
    lag(ntok) OVER ({w}) AS prev_ntok,
    sum(ntok) OVER ({cum}) AS cum_tok,
    lag(ts, 2) OVER ({w}) AS prev2_ts,
    lag(role, 2) OVER ({w}) AS prev2_role,
    max(turn_idx) FILTER (WHERE role = 'user') OVER (PARTITION BY conv_id) AS max_user_idx,
    max(turn_idx) FILTER (WHERE role = 'assistant') OVER (PARTITION BY conv_id) AS max_assistant_idx,
    sum(ntok) OVER (PARTITION BY conv_id) AS tot_tok,
    lag(turn_idx) OVER ({tw}) AS tool_prev_idx,
    lead(turn_idx) OVER ({tw}) AS tool_next_idx,
    lag(coalesce(text, '')) OVER ({tw}) AS tool_prev_text,
    count(*) OVER (PARTITION BY conv_id, tool) AS tool_n_uses,
    max(turn_idx) FILTER (WHERE role = 'user') OVER ({prior}) AS sponsor_idx,
    max(turn_idx) FILTER (WHERE role = 'system') OVER ({prior}) AS prev_system_idx
  FROM succ
),
gapped AS (
  SELECT *, floor(epoch(ts)) - floor(epoch(prev_ts)) AS gap_sec,
            floor(epoch(prev_ts)) - floor(epoch(prev2_ts)) AS prev_gap,
            lag(sponsor_idx) OVER ({tw}) AS tool_prev_sponsor
  FROM ctxd
)"""
        src = "gapped"
    arms = []
    for r in rules:
        idx = " + ".join(f"CAST(e{o.code} AS INTEGER)" for o in rules if o.code < r.code) or "0"
        det_cols = ""
        if with_details:
            exprs = dict(r.sql_details)
            det_cols = ", " + ", ".join(
                f"{exprs[k]} AS d_{k}" if k in exprs else f"CAST(NULL AS VARCHAR) AS d_{k}"
                for k in DETAIL_KEYS
            )
        arms.append(
            f"SELECT conv_id, turn_idx, ts, turn_id, {r.code} AS effect_type, "
            f"'{r.name}' AS effect_type_string, {idx} AS effect_index{det_cols} "
            f"FROM flagged WHERE e{r.code}"
        )
    fired = "\n  UNION ALL\n  ".join(arms)
    det_out = ""
    if with_details:
        det_out = ",\n  " + ",\n  ".join(f"d_{k}" for k in DETAIL_KEYS)
    return f"""{TRANSCRIPTS_CTE},
succ AS (
  SELECT *, {_SQL_TURN_ID} AS turn_id, {_SQL_NTOK} AS ntok,
    (strlen(coalesce(text, '')) <> length(coalesce(text, ''))) AS is_mb,
    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
  FROM transcripts
  WHERE {_SQL_SUCCESSFUL}
){ctx_cte},
flagged AS (
  SELECT *,
    {flags}
  FROM {src}
),
fired AS (
  {fired}
)
SELECT
  printf('%d-%d', turn_id, effect_index) AS effect_id,
  turn_id,
  conv_id,
  turn_idx,
  CAST(effect_index AS INTEGER) AS effect_index,
  CAST(effect_type AS INTEGER) AS effect_type,
  effect_type_string,
  ts{det_out}
FROM fired
"""


SQL_EFFECTS = _sql_effects(contextual=False)
SQL_EFFECTS_CONTEXTUAL = _sql_effects(contextual=True)
SQL_EFFECTS_DETAILS = _sql_effects(contextual=True, with_details=True)


# --- T17 wide conversation profile (config_setting.go:13-260 analog) --------
def q_conv_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stellar_etl_spark.operators.profile import extract_conversation_profile

    return extract_conversation_profile(transcripts_from_events(spark, sf_dir), conv_seq=_seq())


_SQL_MB = "(strlen(coalesce(text,'')) <> length(coalesce(text,'')))"

SQL_CONV_PROFILE = f"""{TRANSCRIPTS_CTE},
base AS (
  SELECT conv_id, conv_seq, turn_idx, role, tool, text, ts,
    {_SQL_NTOK} AS ntok,
    length(coalesce(text,'')) AS nchar,
    strlen(coalesce(text,'')) AS nbytes,
    {_SQL_SUCCESSFUL} AS ok,
    {_SQL_MB} AS mb,
    floor(epoch(ts)) - floor(epoch(lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx))) AS gap_sec
  FROM transcripts
),
agg AS (
  SELECT conv_id, conv_seq,
    CAST(count(*) AS BIGINT) AS n_turns,
    CAST(count(*) FILTER (WHERE role = 'user') AS BIGINT) AS n_user,
    CAST(count(*) FILTER (WHERE role = 'assistant') AS BIGINT) AS n_assistant,
    CAST(count(*) FILTER (WHERE role = 'tool') AS BIGINT) AS n_tool,
    CAST(count(*) FILTER (WHERE role = 'system') AS BIGINT) AS n_system,
    CAST(count(*) FILTER (WHERE ok) AS BIGINT) AS n_successful,
    CAST(count(*) FILTER (WHERE NOT ok) AS BIGINT) AS n_failed,
    CAST(count(*) FILTER (WHERE text IS NULL OR text = '') AS BIGINT) AS n_empty,
    CAST(count(*) FILTER (WHERE mb) AS BIGINT) AS n_unicode,
    CAST(count(*) FILTER (WHERE ntok BETWEEN 1 AND 3) AS BIGINT) AS n_short,
    CAST(count(*) FILTER (WHERE ntok > 30) AS BIGINT) AS n_long,
    CAST(count(DISTINCT role) AS BIGINT) AS n_distinct_roles,
    CAST(count(DISTINCT tool) AS BIGINT) AS n_distinct_tools,
    CAST(count(*) FILTER (WHERE tool = 'browse') AS BIGINT) AS n_tool_browse,
    CAST(count(*) FILTER (WHERE tool = 'calc') AS BIGINT) AS n_tool_calc,
    CAST(count(*) FILTER (WHERE tool = 'code') AS BIGINT) AS n_tool_code,
    CAST(count(*) FILTER (WHERE tool = 'fetch') AS BIGINT) AS n_tool_fetch,
    CAST(count(*) FILTER (WHERE tool = 'search') AS BIGINT) AS n_tool_search,
    CAST(sum(ntok) AS BIGINT) AS total_tokens,
    CAST(min(ntok) AS BIGINT) AS min_tokens,
    CAST(max(ntok) AS BIGINT) AS max_tokens,
    CAST(sum(nchar) AS BIGINT) AS total_chars,
    CAST(min(nchar) AS BIGINT) AS min_chars,
    CAST(max(nchar) AS BIGINT) AS max_chars,
    CAST(sum(nbytes) AS BIGINT) AS total_bytes,
    min(ts) AS opened_at,
    max(ts) AS closed_at,
    CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS DOUBLE) AS duration_sec,
    min(CASE WHEN role = 'user' THEN ts END) AS first_user_ts,
    max(CASE WHEN role = 'assistant' THEN ts END) AS last_assistant_ts,
    CAST(max(gap_sec) AS BIGINT) AS max_gap_sec,
    CAST(min(gap_sec) AS BIGINT) AS min_gap_sec,
    CAST(sum(gap_sec) AS BIGINT) AS total_gap_sec,
    CAST(count(gap_sec) AS BIGINT) AS n_gaps,
    CAST(count(*) FILTER (WHERE gap_sec > 1800) AS BIGINT) AS n_session_breaks,
    arg_min(role, turn_idx) AS first_role,
    arg_max(role, turn_idx) AS last_role,
    arg_min(coalesce(text, ''), turn_idx) FILTER (WHERE role = 'user') AS first_user_text,
    arg_max(coalesce(text, ''), turn_idx) AS last_text,
    arg_min(tool, turn_idx) FILTER (WHERE tool IS NOT NULL) AS first_tool,
    arg_max(tool, turn_idx) FILTER (WHERE tool IS NOT NULL) AS last_tool,
    min(turn_idx) AS min_turn_idx,
    max(turn_idx) AS max_turn_idx,
    CAST(arg_max(ntok, turn_idx) AS BIGINT) AS last_turn_tokens,
    -- list_distinct post-agg, not list(DISTINCT..) FILTER: DuckDB 1.x hits an
    -- internal error combining DISTINCT+FILTER list aggs with a struct-list
    -- agg in one SELECT
    to_json(list_sort(list_distinct(coalesce(list(tool) FILTER (WHERE tool IS NOT NULL),
                                             CAST([] AS VARCHAR[]))))) AS tools_used,
    to_json(list_sort(list_distinct(list(role)))) AS roles_seen,
    to_json([x.v FOR x IN list_sort(list({{'i': turn_idx, 'v': coalesce(text, '')}}))[1:3]])
      AS first_3_texts
  FROM base
  GROUP BY conv_id, conv_seq
)
SELECT *,
  CAST(total_tokens AS DOUBLE) / CAST(n_turns AS DOUBLE) AS avg_tokens,
  CAST(total_chars AS DOUBLE) / CAST(n_turns AS DOUBLE) AS avg_chars,
  CAST(n_user AS DOUBLE) / CAST(n_turns AS DOUBLE) AS pct_user,
  CAST(n_failed AS DOUBLE) / CAST(n_turns AS DOUBLE) AS pct_failed,
  CAST(n_unicode AS DOUBLE) / CAST(n_turns AS DOUBLE) AS pct_unicode,
  CASE WHEN total_tokens > 0 THEN CAST(total_chars AS DOUBLE) / CAST(total_tokens AS DOUBLE)
       ELSE 0.0 END AS chars_per_token,
  CASE WHEN n_gaps > 0 THEN CAST(total_gap_sec AS DOUBLE) / CAST(n_gaps AS DOUBLE)
       ELSE 0.0 END AS avg_gap_sec,
  (first_role = 'system') AS has_system_start,
  (n_failed > 0) AS has_failures,
  (n_turns = 1) AS single_turn,
  (n_turns >= 256) AS is_hot,
  (last_role = 'user') AS ended_by_user,
  (n_session_breaks > 0) AS multi_session
FROM agg
"""


# --- J2 pairs ---------------------------------------------------------------
def q_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_pairs(transcripts_from_events(spark, sf_dir))


SQL_PAIRS = f"""{TRANSCRIPTS_CTE},
win AS (
  SELECT *,
    first_value(CASE WHEN role IN ('assistant','tool') THEN turn_idx END IGNORE NULLS)
      OVER w AS resp_turn_idx,
    first_value(CASE WHEN role IN ('assistant','tool') THEN role END IGNORE NULLS)
      OVER w AS resp_role,
    first_value(CASE WHEN role IN ('assistant','tool') THEN ts END IGNORE NULLS)
      OVER w AS resp_ts,
    first_value(CASE WHEN role IN ('assistant','tool') THEN text END IGNORE NULLS)
      OVER w AS resp_text
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT
  conv_id,
  turn_idx AS user_turn_idx,
  ts AS user_ts,
  text AS user_text,
  resp_turn_idx,
  resp_role,
  resp_ts,
  resp_text,
  CAST(floor(epoch(resp_ts)) - floor(epoch(ts)) AS DOUBLE) AS latency_sec
FROM win
WHERE role = 'user'
"""


# --- stateful streaming harness (driver-facing) ------------------------------
def _harness_partitions(spark: SparkSession, n: int = 8):
    """Shrink shuffle/state partitions for the driver-check harnesses only.

    Each state partition is a full state-store instance writing delta +
    commit files per micro-batch, and each epoch write commits one file per
    partition — at 32 partitions that fixed overhead dominated the harness
    clock (~64 s combined at sf0.1, VERDICT r4 #6). The operators' semantics
    are partition-count independent (pinned by the batch-size-independence
    tests), so 8 partitions buys the same green rows ~4x cheaper. Fresh
    checkpoints each run, so the state-partition count never conflicts.
    ``run_export`` further caps the state partitions at the core count, so
    below 8 cores those harnesses run one per core; the fan-out harness
    (``run_fanout_export``, no state) keeps its 16.

    r6: the harness also runs on the HEAP-BACKED state store. The session
    default stays RocksDB — mandatory where streaming state exceeds the
    heap (the 10^12-turn production paths, bench.py's own streaming
    section) — but this harness hard-caps its result at 1M rows, so its
    state (<=15k conversation keys / <=1M buffered join rows) always fits
    on-heap, and RocksDB's per-batch changelog+commit machinery is pure
    overhead at that size: measured at sf1.0, pairs 48 -> 35 s,
    stream-stream join 17 -> 7 s, sessions 10 -> 7 s, conv_state flat.
    Same scale-dependent-parameter class as the partition shrink; both
    restore on exit."""
    return scoped_conf(spark, {
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    })


def _data_files(src: str) -> list[str]:
    """The parquet part files a harness wrote under ``src``. Raises when there
    are none: the harness would otherwise run a sentinel-only stream and
    return an empty, trivially oracle-equal result."""
    import os

    files = [f for f in os.listdir(src) if f.startswith("part-")]
    if len(files) < 1:
        raise RuntimeError(f"streaming harness wrote no data files under {src}")
    return files


def _stamp_after(src: str, data_files: list[str]) -> None:
    """Set every part file under ``src`` not in ``data_files`` (the sentinel)
    to a modification time later than all of them. The file source orders
    new files by mtime; write order alone does not guarantee it (coarse
    filesystem timestamps, clock steps)."""
    import os

    later = max(os.path.getmtime(os.path.join(src, f)) for f in data_files) + 1
    for f in os.listdir(src):
        if f.startswith("part-") and f not in data_files:
            os.utime(os.path.join(src, f), (later, later))


def _run_streaming_query(
    spark: SparkSession,
    tv: DataFrame,
    extractor,
    keys: tuple[str, ...],
    drop_flush_on: str = "conv_id",
    output_mode: str = "append",
    per_conv_flush: bool = False,
    src_partitions: int = 8,
) -> DataFrame:
    """Run a REAL streaming query over the transcripts view and return the
    merged sink contents — the oracle harness for the stateful operators.

    Layout: ``src_partitions`` hash(conv_id) data files + a far-future
    flush-sentinel file (its modification time is set past every data file;
    the file source orders new files by modification time, so with
    ``maxFilesPerTrigger = n_data_files`` the sentinel is processed last) —
    data batch, sentinel batch (advances the watermark past every pending
    window/state), then Spark's no-data
    batch fires the event-time timeouts and the state drains. r6: the data
    write is a hash repartition, NOT ``coalesce(1)`` — coalesce collapses
    the whole transcripts derivation (scan + window) into ONE task (measured
    7-12 s of serial write at 10^6 turns vs ~3 s parallel), and the multi-
    file batch also parallelizes the first micro-batch's scan.

    ``per_conv_flush`` writes one far-future ``role='system'`` row PER
    conversation instead of the single 'flush' row. Only valid for
    extractors that ignore system rows (the pairs matcher filters roles
    before buffering, so outputs are bit-identical): every state group then
    drains through the cheap DATA-path invocation in the sentinel batch and
    removes its state, instead of through one event-time-TIMEOUT invocation
    per group — measured ~14 ms per timed-out group vs ~2 ms per data-path
    group at 15k conversations (the sentinel batch fell 27 s -> ~4 s).

    The result is ``localCheckpoint``-materialized on the executors before
    the temp dirs are removed — the old collect + createDataFrame round
    trip moved every row driver-side through pickle twice (~6 s per 200k
    rows, ~15 s at the 10^6-row bench scale; guide §5 "the driver should do
    almost no data work")."""
    import shutil
    import tempfile

    from stellar_etl_spark.generator import write_transcripts
    from stellar_etl_spark.streaming.pipeline import run_export
    from stellar_etl_spark.streaming.sink import IdempotentSink

    work = tempfile.mkdtemp(prefix="streaming_q_")
    try:
        src = f"{work}/src"
        write_transcripts(
            tv.repartition(src_partitions, F.col("conv_id")), src, partition_by_day=False
        )
        max_ts = tv.agg(F.max("ts")).collect()[0][0]
        # State partitions stay at the _harness_partitions default (8),
        # capped at the core count by run_export: the scale-adaptive
        # alternative (32 at 10^6 rows) was MEASURED SLOWER — 46->55 s
        # (pairs), 20->26 s (conv_state), 19->23 s (join) at sf1.0 —
        # per-partition state-store/commit fixed cost beats the extra
        # parallelism at every scale this harness runs at.
        data_files = _data_files(src)
        n_files = len(data_files)
        if per_conv_flush:
            sentinel = (
                tv.select("conv_id")
                .distinct()
                .select(
                    "conv_id",
                    F.lit(-1).alias("turn_idx"),
                    F.lit("system").alias("role"),
                    F.lit("").alias("text"),
                    F.lit(None).cast("string").alias("tool"),
                    (F.lit(max_ts) + F.expr("INTERVAL 30 DAYS")).alias("ts"),
                )
                .coalesce(1)
            )
        else:
            sentinel = spark.createDataFrame(
                [("flush", 0, "system", "", None, max_ts)],
                "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
            ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS"))
        sentinel.write.mode("append").parquet(src)
        _stamp_after(src, data_files)

        sink = IdempotentSink(f"{work}/out", keys, output_partitions=4)
        with _harness_partitions(spark):
            run_export(spark, src, extractor, sink, f"{work}/ckpt",
                       max_files_per_trigger=n_files, output_mode=output_mode)
        out = sink.read_sink(spark).where(F.col(drop_flush_on) != "flush")
        res = out.localCheckpoint(eager=True)
        # the cap documents this harness's driver-check scale; with the
        # executor-side materialization it is a count, not a driver collect
        if res.count() > 1_000_000:
            raise RuntimeError(
                "streaming harness result exceeds 1M rows — this path is for "
                "small-sf correctness checks; use the sink directly"
            )
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --- J2/T6/S11 stateful streaming pairs (driver-facing) ----------------------
def q_streaming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTUAL stateful streaming path, driver-hash-checked — not the
    batch twin: file stream → watermark → ``applyInPandasWithState`` matcher
    → checkpoint → exactly-once IdempotentSink under Trigger.AvailableNow,
    then the merged sink read back. Oracle: the bounded range-join SQL (the
    same CEP semantics the stateful operator implements)."""
    from stellar_etl_spark.streaming.state import streaming_pairs

    return _run_streaming_query(
        spark,
        transcripts_from_events(spark, sf_dir),
        lambda s: streaming_pairs(s, "2 minutes", 300),
        ("conv_id", "user_turn_idx"),
        # the matcher filters to user|response roles before buffering, so the
        # per-conversation system flush rows are invisible to the output —
        # they exist to drain each group through the cheap data-path
        # invocation instead of one ~14 ms timeout invocation per group
        per_conv_flush=True,
    )


# --- J2 native stream-stream join (driver-facing) -----------------------------
def q_stream_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE watermark-bounded stream-stream inner join (not the
    custom stateful matcher): every (user, response) pair within the 300 s
    horizon, run through checkpoint + sink. Oracle: the plain inner range
    join."""
    from stellar_etl_spark.streaming.pipeline import stream_stream_join_pairs

    return _run_streaming_query(
        spark,
        transcripts_from_events(spark, sf_dir),
        lambda s: stream_stream_join_pairs(s, "2 minutes", 300),
        ("conv_id", "user_turn_idx", "resp_turn_idx"),
    )


SQL_STREAM_JOIN_PAIRS = f"""{TRANSCRIPTS_CTE}
SELECT
  u.conv_id,
  u.turn_idx AS user_turn_idx,
  u.ts AS user_ts,
  u.text AS user_text,
  r.turn_idx AS resp_turn_idx,
  r.role AS resp_role,
  r.ts AS resp_ts,
  r.text AS resp_text,
  CAST(floor(epoch(r.ts)) - floor(epoch(u.ts)) AS DOUBLE) AS latency_sec
FROM transcripts u
JOIN transcripts r
  ON u.conv_id = r.conv_id
 AND u.role = 'user'
 AND r.role IN ('assistant', 'tool')
 AND r.turn_idx > u.turn_idx
 AND r.ts >= u.ts
 AND r.ts <= u.ts + INTERVAL 300 SECONDS
"""


# --- streaming session windows (driver-facing) --------------------------------
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``F.session_window`` sessionization through the streaming
    harness (watermark-bounded merging session state). Oracle: gap-and-island
    SQL with session_window's exact boundary semantics — an event at EXACTLY
    ``prev_ts + gap`` starts a NEW session (the window is half-open
    ``[start, last_ts + gap)``), so the island flag uses ``>= gap`` on the
    full-precision event-time difference (the batch operator's ``> gap`` on
    floored seconds is a different, also-oracled convention)."""
    from stellar_etl_spark.operators.sessions import extract_sessions_streaming

    return _run_streaming_query(
        spark,
        transcripts_from_events(spark, sf_dir),
        lambda s: extract_sessions_streaming(s, "30 minutes", "2 minutes"),
        ("conv_id", "session_start"),
    )


SQL_STREAMING_SESSIONS = f"""{TRANSCRIPTS_CTE},
flagged AS (
  SELECT *,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
         THEN 1 ELSE 0 END AS new_session
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
numbered AS (
  SELECT *,
    sum(new_session) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT
  conv_id,
  min(ts) AS session_start,
  max(ts) AS session_end,
  CAST(count(*) AS BIGINT) AS n_turns,
  CAST(count(*) FILTER (WHERE role = 'user') AS BIGINT) AS n_user,
  CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS DOUBLE) AS duration_sec
FROM numbered
GROUP BY conv_id, session_seq
"""


# --- streaming running conversation state (S11/T8/A6, driver-facing) ---------
def q_streaming_conv_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTUAL cross-batch accumulating state path (S11 orderbook-stream
    analog / A6): Spark's native streaming aggregate in UPDATE mode (state-
    store partial aggregates, no Python worker) through checkpoint +
    exactly-once sink. Each micro-batch emits a running snapshot per
    conversation; the sink's key-precedence merge (highest epoch wins) keeps
    the LAST snapshot, which must equal the plain batch aggregation over all
    turns — that equality is exactly what the oracle recomputes, so the
    accumulator arithmetic, cross-batch state carry, and merge-on-read are
    all hash-checked (this row previously had only a pytest equivalence)."""
    from stellar_etl_spark.streaming.state import running_conversation_state

    return _run_streaming_query(
        spark,
        transcripts_from_events(spark, sf_dir),
        lambda s: running_conversation_state(s, "2 minutes"),
        ("conv_id",),
        output_mode="update",
    )


SQL_STREAMING_CONV_STATE = f"""{TRANSCRIPTS_CTE}
SELECT
  conv_id,
  CAST(count(*) AS BIGINT) AS n_turns,
  CAST(count(*) FILTER (WHERE role = 'user') AS BIGINT) AS n_user,
  CAST(max(turn_idx) AS INTEGER) AS max_turn_idx,
  CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS total_chars,
  max(ts) AS last_ts
FROM transcripts
GROUP BY conv_id
"""


SQL_STREAMING_PAIRS = f"""{TRANSCRIPTS_CTE},
users AS (
  SELECT conv_id, turn_idx AS user_turn_idx, ts AS user_ts, text AS user_text
  FROM transcripts WHERE role = 'user'
),
resps AS (
  SELECT conv_id AS r_conv_id, turn_idx AS resp_turn_idx, role AS resp_role,
         ts AS resp_ts, text AS resp_text
  FROM transcripts WHERE role IN ('assistant', 'tool')
),
joined AS (
  SELECT u.*, r.resp_turn_idx, r.resp_role, r.resp_ts, r.resp_text,
    row_number() OVER (
      PARTITION BY u.conv_id, u.user_turn_idx ORDER BY r.resp_turn_idx
    ) AS rn
  FROM users u
  LEFT JOIN resps r
    ON u.conv_id = r.r_conv_id
   AND r.resp_turn_idx > u.user_turn_idx
   AND r.resp_ts >= u.user_ts
   AND r.resp_ts <= u.user_ts + INTERVAL 300 SECONDS
)
SELECT conv_id, user_turn_idx, user_ts, user_text,
       resp_turn_idx, resp_role, resp_ts, resp_text,
       CAST(floor(epoch(resp_ts)) - floor(epoch(user_ts)) AS DOUBLE) AS latency_sec
FROM joined WHERE rn = 1
"""


# --- sessions ---------------------------------------------------------------
def q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_sessions(transcripts_from_events(spark, sf_dir), gap_sec=1800)


SQL_SESSIONS = f"""{TRANSCRIPTS_CTE},
flagged AS (
  SELECT *,
    CASE WHEN lag(ts) OVER w IS NULL
              OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
         THEN 1 ELSE 0 END AS new_session
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
numbered AS (
  SELECT *,
    sum(new_session) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT
  conv_id,
  min(ts) AS session_start,
  max(ts) AS session_end,
  CAST(count(*) AS BIGINT) AS n_turns,
  CAST(count(*) FILTER (WHERE role = 'user') AS BIGINT) AS n_user,
  CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS DOUBLE) AS duration_sec
FROM numbered
GROUP BY conv_id, session_seq
"""


# --- A2 / A4 dedup ----------------------------------------------------------
_T_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def q_first_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return first_seen_dedup(transcripts_from_events(spark, sf_dir), ["conv_id"]).select(*_T_COLS)


SQL_FIRST_TURNS = f"""{TRANSCRIPTS_CTE}
SELECT conv_id, turn_idx, role, text, tool, ts
FROM transcripts
QUALIFY row_number() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) = 1
"""


def q_last_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compact_last_state(transcripts_from_events(spark, sf_dir), ["conv_id"]).select(*_T_COLS)


SQL_LAST_STATE = f"""{TRANSCRIPTS_CTE}
SELECT conv_id, turn_idx, role, text, tool, ts
FROM transcripts
QUALIFY row_number() OVER (PARTITION BY conv_id ORDER BY ts DESC, turn_idx DESC) = 1
"""


# --- T12/J7 star schema round-trip -----------------------------------------
def q_star_denorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    star = extract_star_schema(transcripts_from_events(spark, sf_dir))
    return denormalize(star).select("conv_id", "role", "tool", "n_chars", "ts")


SQL_STAR_DENORM = f"""{TRANSCRIPTS_CTE}
SELECT conv_id, role, tool, CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars, ts
FROM transcripts
"""


# --- §3.3 time range --------------------------------------------------------
# ONE registry entry covers both clamp cases (driver-window economy, r04
# verdict ask #1): 'interior' = request inside the data range, 'straddle' =
# request straddling the whole table so both ends clamp (early_start +
# late_end golden analogs, /root/reference/testdata/ranges/*.golden;
# tolerance disabled on the straddle case like the archive-backed reference
# path that predates checkTimesWithinDatastore). The full 10-case clamp
# battery lives in tests/test_ranges.py.
_RANGE_LO, _RANGE_HI = "2024-01-05 00:00:00", "2024-01-20 00:00:00"
_EDGE_LO, _EDGE_HI = "2000-01-01 00:00:00", "2100-01-01 00:00:00"


def q_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    tv = transcripts_from_events(spark, sf_dir)
    interior = time_range(tv, _RANGE_LO, _RANGE_HI).select(
        F.lit("interior").alias("range_case"), "start_ts", "end_ts", "n_turns"
    )
    straddle = time_range(tv, _EDGE_LO, _EDGE_HI, future_tolerance_sec=None).select(
        F.lit("straddle").alias("range_case"), "start_ts", "end_ts", "n_turns"
    )
    return interior.unionByName(straddle)


def _sql_range_case(label: str, lo: str, hi: str) -> str:
    return f"""
SELECT '{label}' AS range_case,
  min(ts) AS start_ts, max(ts) AS end_ts, CAST(count(*) AS BIGINT) AS n_turns
FROM transcripts, b
WHERE ts BETWEEN least(greatest(TIMESTAMP '{lo}', b.lo), b.hi)
             AND least(greatest(TIMESTAMP '{hi}', b.lo), b.hi)
"""


SQL_TIME_RANGE = f"""{TRANSCRIPTS_CTE},
b AS (SELECT min(ts) AS lo, max(ts) AS hi FROM transcripts)
{_sql_range_case('interior', _RANGE_LO, _RANGE_HI)}
UNION ALL
{_sql_range_case('straddle', _EDGE_LO, _EDGE_HI)}
"""


# --- S4/C20 sequence batching ----------------------------------------------
def q_batch_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    tv = with_batch_bounds(transcripts_from_events(spark, sf_dir), batch_size=64)
    return tv.groupBy("conv_id", "batch_start", "batch_end", "batch_label").agg(
        F.count(F.lit(1)).alias("n_turns")
    )


SQL_BATCH_BOUNDS = f"""{TRANSCRIPTS_CTE}
SELECT
  conv_id,
  CAST(turn_idx - (turn_idx % 64) AS BIGINT) AS batch_start,
  CAST(turn_idx - (turn_idx % 64) + 63 AS BIGINT) AS batch_end,
  printf('%d-%d', turn_idx - (turn_idx % 64), turn_idx - (turn_idx % 64) + 63) AS batch_label,
  CAST(count(*) AS BIGINT) AS n_turns
FROM transcripts
GROUP BY 1, 2, 3, 4
"""


# --- documents: language id (folded into doc_quality's lang_pred column —
# driver-window economy; the scored-CTE oracle below recomputes the full
# stopword-overlap argmax) ---------------------------------------------------
def _sql_lang_score(lang: str) -> str:
    from stellar_etl_spark.functions.text import _STOPWORDS

    words = ", ".join(f"'{w}'" for w in _STOPWORDS[lang])
    return (
        "len(list_intersect(list_transform(regexp_split_to_array(trim(coalesce(text,'')), '\\s+'), "
        f"x -> lower(x)), [{words}]))"
    )


# --- documents: quality + token stats + language id -------------------------
# ONE entry hash-checks the quality-scoring, token-counting, repetition and
# language-ID column functions (merged from the former separate
# doc_token_stats and doc_language_id queries — driver-window economy; one
# documents scan instead of three). lang/n_chars come from the token-stats
# half; lang_pred is the stopword-overlap argmax.
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _scaled_read(spark, f"{sf_dir}/documents.parquet", "doc_id")
    feats = textfn.quality_features(F.col("text"))
    base = d.select(
        "doc_id",
        "lang",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias("n_chars_calc"),
        feats["n_tokens"].alias("n_tokens"),
        F.round(feats["punct_ratio"], 6).alias("punct_ratio"),
        F.round(feats["stopword_ratio"], 6).alias("stopword_ratio"),
        textfn.quality_score(F.col("text")).alias("quality"),
        textfn.uniq_word_ratio(F.col("text")).alias("uniq_word_ratio"),
        textfn.language_id(F.col("text")).alias("lang_pred"),
    )
    # Gopher-style top-2-gram repetition share (relational k-gram counting —
    # see functions/text.py:ngram_repetition for the scale rationale).
    rep = textfn.ngram_repetition(d, text_col="text", id_col="doc_id", k=2)
    return base.join(rep.withColumnRenamed("top_gram_share", "top_bigram_share"), "doc_id")


def _sql_all_stopwords() -> str:
    from stellar_etl_spark.functions.text import _STOPWORDS

    return ", ".join(f"'{w}'" for ws in _STOPWORDS.values() for w in ws)


SQL_DOC_QUALITY = f"""
WITH f AS (
  SELECT doc_id, lang,
    CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,
    {_SQL_NTOK} AS n_tokens,
    CAST(length(coalesce(text,'')) - length(regexp_replace(coalesce(text,''), '[!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
      / greatest(length(coalesce(text,'')), 1) AS punct_ratio,
    CAST(length(coalesce(text,'')) - length(regexp_replace(coalesce(text,''), '\\p{{Lu}}', '', 'g')) AS DOUBLE)
      / greatest(length(coalesce(text,'')), 1) AS upper_ratio,
    CASE WHEN {_SQL_NTOK} > 0 THEN
      CAST(len(list_intersect(list_transform(regexp_split_to_array(trim(coalesce(text,'')), '\\s+'),
           x -> lower(x)), [{_sql_all_stopwords()}])) AS DOUBLE) / {_SQL_NTOK}
    ELSE 0.0 END AS stopword_ratio
  FROM documents
)
, words AS (
  SELECT doc_id, regexp_split_to_array({_SQL_NORM}, ' ') AS w FROM documents
), grams AS (
  -- mirror functions/text.py:shingles(k=2): docs of <= 2 words yield ONE
  -- whole-text gram, else the n-1 sliding bigrams
  SELECT doc_id,
    CASE WHEN len(w) <= 2 THEN [array_to_string(w, ' ')]
         ELSE list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
    END AS g
  FROM words
), gcnt AS (
  SELECT doc_id, gram, count(*) AS cnt
  FROM (SELECT doc_id, unnest(g) AS gram FROM grams)
  GROUP BY 1, 2
), rep AS (
  SELECT doc_id, round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 6) AS top_bigram_share
  FROM gcnt GROUP BY doc_id
), langp AS (
  SELECT doc_id,
    list_aggregate([
      {{'score': {_sql_lang_score('de')}, 'lang': 'de'}},
      {{'score': {_sql_lang_score('en')}, 'lang': 'en'}},
      {{'score': {_sql_lang_score('es')}, 'lang': 'es'}},
      {{'score': {_sql_lang_score('fr')}, 'lang': 'fr'}}
    ], 'max') AS best
  FROM documents
)
SELECT f.doc_id, lang, n_chars AS n_chars_calc, n_tokens,
  round(punct_ratio, 6) AS punct_ratio,
  round(stopword_ratio, 6) AS stopword_ratio,
  round(
    least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0) * 0.4
    + greatest(0.0, 1.0 - punct_ratio * 2 - upper_ratio) * 0.4
    + least(stopword_ratio * 4, 1.0) * 0.2, 6) AS quality,
  round(CAST(len(list_distinct(w)) AS DOUBLE) / greatest(len(w), 1), 6) AS uniq_word_ratio,
  rep.top_bigram_share,
  CASE WHEN best.score >= 1 THEN best.lang ELSE 'und' END AS lang_pred
FROM f
JOIN words USING (doc_id)
JOIN rep USING (doc_id)
JOIN langp USING (doc_id)
"""


# --- documents: exact-dup grouping -----------------------------------------
def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _scaled_read(spark, f"{sf_dir}/documents.parquet", "doc_id")
    return (
        d.select("doc_id", textfn.normalized(F.col("text")).alias("norm"))
        .groupBy("norm")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_docs"))
        .select("canonical_id", "n_docs")
    )


SQL_DOC_EXACT_DEDUP = f"""
SELECT CAST(min(doc_id) AS BIGINT) AS canonical_id, CAST(count(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY {_SQL_NORM}
"""


# --- documents: near-dup cluster assignment ---------------------------------
def q_doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified MinHash near-dup pair graph —
    the step a dedup pipeline runs AFTER pair generation: transitive chains
    (A~B, B~C but A!~C) collapse into one cluster, one canonical doc
    (the min id) survives, the rest are dropped. Iterative min-label
    propagation (functions/dedup.py:connected_components), O(diameter)
    rounds of join+min-agg; the oracle recomputes the exact-Jaccard pair
    relation and its transitive closure with a recursive CTE, so a wrong
    component ANYWHERE hash-mismatches.

    DATA-DEPENDENCE NOTE (r5 ADVICE, do not mistake for an engine bug):
    the oracle brute-forces ALL pairs with exact jaccard >= 0.4, while the
    Spark side emits LSH-candidate-verified pairs. At 32 perms / 8 bands
    (r=4) a pair at j=0.4 becomes an LSH candidate with only ~19%
    probability — parity is green because the generator's similarity
    distribution is bimodal (true near-dups sit well above the S-curve
    knee). If a future generator change plants borderline-jaccard pairs,
    THIS row (and corpus_manifest) will hash-mismatch by construction;
    the fix would be raising min_jaccard into the high-recall region in a
    BUILD round (the oracle text is frozen during optimization rounds)."""
    from stellar_etl_spark.functions.dedup import (
        connected_components,
        minhash_candidate_pairs,
    )
    from pyspark.sql import Window as W

    d = _scaled_read(spark, f"{sf_dir}/documents.parquet", "doc_id")
    pairs = minhash_candidate_pairs(d, min_jaccard=0.4)
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        F.count(F.lit(1)).over(W.partitionBy("cluster_id")).alias("cluster_size"),
        (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
    )


# Same brute-force exact-Jaccard pair relation as SQL_DOC_MINHASH_PAIRS, then
# transitive closure via recursive CTE; cluster label = min reachable id.
SQL_DOC_DUP_CLUSTERS = f"""
WITH RECURSIVE norm AS (SELECT doc_id, regexp_split_to_array({_SQL_NORM}, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id,
    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
         ELSE [array_to_string(w[i+1:i+3], ' ') FOR i IN range(0, len(w)-2)] END AS gs
  FROM norm
),
sets AS (SELECT doc_id, list_distinct(gs) AS gs FROM grams),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.4
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
lbl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u)
SELECT doc_id, cluster_id,
  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
  doc_id = cluster_id AS is_canonical
FROM lbl
"""


# --- embeddings: brute-force cosine top-k ----------------------------------
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _scaled_read(spark, f"{sf_dir}/embeddings.parquet", "vec_id")
    queries = emb.where(F.col("vec_id") < 5)
    out = cosine_topk(emb, queries, k=10)
    # sim is recomputed per engine in floating point; rank is the contract.
    return out.select("query_id", "rank", "neighbor_id")


SQL_ANN_COSINE_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (
  SELECT query_id, neighbor_id,
    round(list_dot_product(qv, cv)
      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)) + 1e-12), 6) AS sim
  FROM c, q
  WHERE neighbor_id <> query_id
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM s
)
WHERE rank <= 10
"""


# --- embeddings: cosine near-dup pairs --------------------------------------
def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stellar_etl_spark.functions.similarity import embedding_near_dups

    emb = _scaled_read(spark, f"{sf_dir}/embeddings.parquet", "vec_id")
    return embedding_near_dups(emb, min_sim=0.5).select("id_a", "id_b")


SQL_EMBEDDING_NEAR_DUPS = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.vec, b.vec)
      / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec)) + 1e-12)
      >= 0.5
"""


# --- multimodal plumbing: binary column -> mapInPandas feature extraction ---
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary decode path end-to-end, REAL parser included: image
    rows carry genuine PNG / JPEG byte streams (magic + IHDR / SOF headers,
    dimensions derived from doc_id), synthesized as hex and unhexed into the
    binary column; audio/video rows carry documents.text bytes. The default
    decoder header-parses the real image bytes — the oracle recomputes the
    expected width/height from doc_id independently, so a broken parser
    hash-mismatches. Audio/video go through the deterministic content-hash
    fallback (no AV codec libs in this sandbox; swap one in via
    ``decoder=``)."""
    from stellar_etl_spark.functions.multimodal import extract_media_features

    d = _scaled_read(spark, f"{sf_dir}/documents.parquet", "doc_id")
    is_img = F.pmod(F.col("doc_id"), F.lit(3)) == 0
    w = (F.lit(16) + F.pmod(F.col("doc_id"), F.lit(512))).cast("int")
    h = (F.lit(16) + F.pmod(F.floor(F.col("doc_id") / F.lit(7)), F.lit(512))).cast("int")
    hex8 = lambda c: F.lpad(F.lower(F.hex(c)), 8, "0")  # noqa: E731
    hex4 = lambda c: F.lpad(F.lower(F.hex(c)), 4, "0")  # noqa: E731
    png_hex = F.concat(
        F.lit("89504e470d0a1a0a0000000d49484452"), hex8(w), hex8(h), F.lit("0806000000")
    )
    jpeg_hex = F.concat(
        F.lit("ffd8ffc0001108"), hex4(h), hex4(w), F.lit("03011100021101031101ffd9")
    )
    payload = (
        F.when(is_img & (F.pmod(F.col("doc_id"), F.lit(2)) == 0), F.unhex(png_hex))
        .when(is_img, F.unhex(jpeg_hex))
        .otherwise(F.col("text").cast("binary"))
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        payload.alias("payload"),
        F.length(payload).cast("long").alias("n_bytes"),
    )
    return extract_media_features(media)


SQL_MEDIA_FEATURES = """
WITH m AS (
  SELECT doc_id AS media_id,
    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
    doc_id, text, sha256(text) AS h,
    16 + doc_id % 512 AS w,
    16 + (doc_id // 7) % 512 AS ht
  FROM documents
),
m2 AS (
  SELECT *,
    CASE WHEN kind = 'image' AND doc_id % 2 = 0
         THEN '89504e470d0a1a0a0000000d49484452'
              || lpad(lower(to_hex(w)), 8, '0') || lpad(lower(to_hex(ht)), 8, '0')
              || '0806000000'
         WHEN kind = 'image'
         THEN 'ffd8ffc0001108'
              || lpad(lower(to_hex(ht)), 4, '0') || lpad(lower(to_hex(w)), 4, '0')
              || '03011100021101031101ffd9'
    END AS img_hex
  FROM m
)
SELECT media_id, kind,
  CASE WHEN kind = 'image' THEN CAST(octet_length(from_hex(img_hex)) AS BIGINT)
       ELSE CAST(strlen(text) AS BIGINT) END AS n_bytes,
  CASE WHEN kind = 'image' THEN CAST(w AS INTEGER) END AS width,
  CASE WHEN kind = 'image' THEN CAST(ht AS INTEGER) END AS height,
  CASE WHEN text IS NOT NULL AND kind <> 'image'
       THEN CAST(50 + ('0x' || substr(h, 5, 4))::INTEGER % 6000 AS DOUBLE) / 100.0
       END AS duration_sec,
  CASE WHEN kind = 'image' THEN substr(sha256(img_hex), 1, 16)
       WHEN text IS NOT NULL THEN substr(h, 1, 16) END AS feat_hash,
  CASE WHEN kind = 'image' AND doc_id % 2 = 0 THEN 'png'
       WHEN kind = 'image' THEN 'jpeg'
       WHEN text IS NOT NULL THEN 'fake' END AS codec
FROM m2
"""


# --- TPC-H-style relational checks -----------------------------------------
def q_tpch_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_TPCH_PRICING = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
           * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- LLM corpus: end-to-end training-corpus manifest -------------------------
def q_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-corpus pipeline in one driver-checked relation:
    quality/language gate -> exact dedup (min id per content fingerprint) ->
    MinHash near-dup connected-component canonicalization -> deterministic
    md5 holdout split -> per-split token-offset sequence packing
    (operators/corpus.py:build_training_corpus). The oracle recomputes every
    stage independently — gate formula, normalized-text dedup groups, the
    brute-force exact-Jaccard pair relation + recursive-CTE transitive
    closure, the md5 split cuts, and the packing prefix sum — so a wrong
    survivor set, split label, or bin assignment ANYWHERE hash-mismatches.
    (Exact dedup groups by xxhash64(normalized text) engine-side; the oracle
    groups by the normalized text itself — identical equivalence classes
    barring a 64-bit collision.)"""
    from stellar_etl_spark.operators.corpus import build_training_corpus

    d = _scaled_read(spark, f"{sf_dir}/documents.parquet", "doc_id")
    return build_training_corpus(d, min_jaccard=0.4)


def _sql_corpus_manifest() -> str:
    # Split cuts mirror hash_split's float accumulation exactly: repr() embeds
    # the bit-exact doubles the engine compares u against.
    weights = {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(weights.values())
    cut_train = weights["train"] / total
    cut_val = cut_train + weights["val"] / total
    return f"""
WITH RECURSIVE prof AS (
  SELECT doc_id,
    {_SQL_NTOK} AS n_tokens,
    CAST(length(coalesce(text,'')) - length(regexp_replace(coalesce(text,''), '[!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
      / greatest(length(coalesce(text,'')), 1) AS punct_ratio,
    CAST(length(coalesce(text,'')) - length(regexp_replace(coalesce(text,''), '\\p{{Lu}}', '', 'g')) AS DOUBLE)
      / greatest(length(coalesce(text,'')), 1) AS upper_ratio,
    CASE WHEN {_SQL_NTOK} > 0 THEN
      CAST(len(list_intersect(list_transform(regexp_split_to_array(trim(coalesce(text,'')), '\\s+'),
           x -> lower(x)), [{_sql_all_stopwords()}])) AS DOUBLE) / {_SQL_NTOK}
    ELSE 0.0 END AS stopword_ratio,
    {_SQL_NORM} AS nrm
  FROM documents
),
langp AS (
  SELECT doc_id,
    list_aggregate([
      {{'score': {_sql_lang_score('de')}, 'lang': 'de'}},
      {{'score': {_sql_lang_score('en')}, 'lang': 'en'}},
      {{'score': {_sql_lang_score('es')}, 'lang': 'es'}},
      {{'score': {_sql_lang_score('fr')}, 'lang': 'fr'}}
    ], 'max') AS best
  FROM documents
),
scored AS (
  SELECT prof.doc_id, n_tokens, nrm,
    round(
      least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0) * 0.4
      + greatest(0.0, 1.0 - punct_ratio * 2 - upper_ratio) * 0.4
      + least(stopword_ratio * 4, 1.0) * 0.2, 6) AS quality,
    CASE WHEN best.score >= 1 THEN best.lang ELSE 'und' END AS lang_pred
  FROM prof JOIN langp ON prof.doc_id = langp.doc_id
),
gated AS (SELECT * FROM scored WHERE quality >= 0.3 AND n_tokens > 0),
exact AS (
  SELECT doc_id, n_tokens, quality, lang_pred FROM gated
  QUALIFY row_number() OVER (PARTITION BY nrm ORDER BY doc_id) = 1
),
words AS (
  SELECT d.doc_id, regexp_split_to_array({_SQL_NORM}, ' ') AS w
  FROM documents d SEMI JOIN exact ON d.doc_id = exact.doc_id
),
grams AS (
  SELECT doc_id,
    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
         ELSE [array_to_string(w[i+1:i+3], ' ') FOR i IN range(0, len(w)-2)] END AS gs
  FROM words
),
sets AS (SELECT doc_id, list_distinct(gs) AS gs FROM grams),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.4
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
noncanon AS (SELECT u AS doc_id FROM reach GROUP BY u HAVING least(u, min(v)) <> u),
kept AS (
  SELECT e.*,
    CAST(('0x' || substring(md5('corpus-v1:' || CAST(e.doc_id AS VARCHAR)), 1, 8))::BIGINT AS BIGINT)
      / 4294967296.0 AS u
  FROM exact e ANTI JOIN noncanon ON e.doc_id = noncanon.doc_id
),
splits AS (
  SELECT doc_id, n_tokens, quality, lang_pred,
    CASE WHEN u < {cut_train!r} THEN 'train'
         WHEN u < {cut_val!r} THEN 'val'
         ELSE 'test' END AS split,
    md5(CAST(doc_id AS VARCHAR)) AS okey,
    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS BIGINT) % 64 AS bucket
  FROM kept
)
SELECT doc_id, lang_pred, n_tokens, quality, split,
  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY split ORDER BY bucket, okey, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset,
  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY split ORDER BY bucket, okey, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS BIGINT) AS pack_bin
FROM splits
"""


SQL_CORPUS_MANIFEST = _sql_corpus_manifest()


# --- J6/T20 timeline union --------------------------------------------------
def q_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stellar_etl_spark.operators import extract_timeline

    return extract_timeline(transcripts_from_events(spark, sf_dir), conv_seq=_seq())


SQL_TIMELINE = f"""{TRANSCRIPTS_CTE},
base AS (
  SELECT *, {_SQL_TURN_ID} AS turn_id,
         starts_with(coalesce(text,''), 'error:') AS failed
  FROM transcripts
)
SELECT turn_id, conv_id, turn_idx, ts, 'turn' AS event_kind, role AS detail FROM base
UNION ALL
SELECT turn_id, conv_id, turn_idx, ts, 'tool_invocation', coalesce(tool, '') FROM base WHERE role = 'tool'
UNION ALL
SELECT turn_id, conv_id, turn_idx, ts, 'diagnostic', 'error' FROM base WHERE failed
"""


# --- T9 pre/post tool-set diffs ---------------------------------------------
def q_tool_diffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stellar_etl_spark.operators import extract_tool_diffs

    return extract_tool_diffs(transcripts_from_events(spark, sf_dir), "60 minutes")


SQL_TOOL_DIFFS = f"""{TRANSCRIPTS_CTE},
per_win AS (
  SELECT conv_id,
    make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 * 1000000 AS BIGINT)) AS window_start,
    make_timestamp(CAST((floor(epoch(ts) / 3600) * 3600 + 3600) * 1000000 AS BIGINT)) AS window_end,
    list_sort(coalesce(list(DISTINCT tool) FILTER (WHERE tool IS NOT NULL), [])) AS tools
  FROM transcripts
  GROUP BY 1, 2, 3
),
with_prev AS (
  SELECT *, coalesce(lag(tools) OVER (PARTITION BY conv_id ORDER BY window_start),
                     CAST([] AS VARCHAR[])) AS prev_tools
  FROM per_win
),
changes AS (
  SELECT conv_id, window_start, window_end, unnest(list_filter(tools, t -> NOT list_contains(prev_tools, t))) AS tool, 'added' AS change FROM with_prev
  UNION ALL
  SELECT conv_id, window_start, window_end, unnest(list_filter(prev_tools, t -> NOT list_contains(tools, t))), 'removed' FROM with_prev
  UNION ALL
  SELECT conv_id, window_start, window_end, unnest(list_intersect(tools, prev_tools)), 'retained' FROM with_prev
)
SELECT * FROM changes
"""


# --- A5 participant dedup ---------------------------------------------------
def q_conv_participants(spark: SparkSession, sf_dir: str) -> DataFrame:
    # array outputs serialized to JSON so the driver's value-hash sees plain
    # strings (array-cell hashing is engine-dependent)
    tv = transcripts_from_events(spark, sf_dir)
    return tv.groupBy("conv_id").agg(
        F.to_json(F.sort_array(F.collect_set("tool"))).alias("tools_used"),
        F.size(F.collect_set("tool")).cast("int").alias("n_tools"),
        F.to_json(F.sort_array(F.collect_set("role"))).alias("roles_seen"),
    )


SQL_CONV_PARTICIPANTS = f"""{TRANSCRIPTS_CTE}
SELECT conv_id,
  to_json(list_sort(coalesce(list(DISTINCT tool) FILTER (WHERE tool IS NOT NULL), []))) AS tools_used,
  CAST(count(DISTINCT tool) AS INTEGER) AS n_tools,
  to_json(list_sort(list(DISTINCT role))) AS roles_seen
FROM transcripts
GROUP BY conv_id
"""


# --- T14-style nested struct-array output (claimable-balance claimants
# analog, transform/claimable_balance.go claimants ArrayType(StructType);
# deterministic in-array sort per O4 effects.go:1140-1143) -------------------
def q_conv_tool_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tv = transcripts_from_events(spark, sf_dir)
    per = (
        tv.where(F.col("tool").isNotNull())
        .groupBy("conv_id", "tool")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return per.groupBy("conv_id").agg(
        F.to_json(F.sort_array(F.collect_list(F.struct("tool", "n")))).alias("tool_stats")
    )


SQL_CONV_TOOL_STATS = f"""{TRANSCRIPTS_CTE},
per AS (
  SELECT conv_id, tool, CAST(count(*) AS BIGINT) AS n
  FROM transcripts WHERE tool IS NOT NULL
  GROUP BY conv_id, tool
)
SELECT conv_id, to_json(list_sort(list({{'tool': tool, 'n': n}}))) AS tool_stats
FROM per GROUP BY conv_id
"""


# --- O1/O3 ordered limit ----------------------------------------------------
def q_latest_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    tv = transcripts_from_events(spark, sf_dir)
    return (
        tv.orderBy(F.desc("ts"), F.asc("conv_id"), F.asc("turn_idx"))
        .limit(100)
        .select("conv_id", "turn_idx", "role", "ts")
    )


SQL_LATEST_TURNS = f"""{TRANSCRIPTS_CTE}
SELECT conv_id, turn_idx, role, ts
FROM transcripts
ORDER BY ts DESC, conv_id, turn_idx
LIMIT 100
"""


# --- sliding windows --------------------------------------------------------
def q_conversations_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    tv = transcripts_from_events(spark, sf_dir)
    return (
        tv.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"), F.col("conv_id"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "conv_id",
            "n_turns",
        )
    )


SQL_CONVERSATIONS_SLIDING = f"""{TRANSCRIPTS_CTE},
buckets AS (
  SELECT *, floor(epoch(ts) / 300) * 300 - unnest(range(0, 2)) * 300 AS ws
  FROM transcripts
)
SELECT
  make_timestamp(CAST(ws * 1000000 AS BIGINT)) AS window_start,
  make_timestamp(CAST((ws + 600) * 1000000 AS BIGINT)) AS window_end,
  conv_id,
  CAST(count(*) AS BIGINT) AS n_turns
FROM buckets
GROUP BY 1, 2, 3
"""


# --- T15 structured payload decode ------------------------------------------
def q_structured_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stellar_etl_spark.operators import extract_structured_payload

    return extract_structured_payload(transcripts_from_events(spark, sf_dir), "k INT")


SQL_STRUCTURED_PAYLOAD = f"""{TRANSCRIPTS_CTE}
SELECT conv_id, turn_idx, ts, json_extract(text, '$.k')::INTEGER AS k
FROM transcripts
WHERE {_SQL_SUCCESSFUL} AND json_valid(text)
"""


# --- exact latency percentiles (portable, bit-exact) -------------------------
def q_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Response-latency p50/p90/p95 per responder role over the as-of pairs.
    Uses EXACT interpolated percentiles (Spark ``percentile``, DuckDB
    ``quantile_cont`` — same (n-1)*q linear-interpolation definition, so the
    doubles match bit-for-bit; the approximate variants GK/t-digest are
    engine-specific and could only be rows-checked). At scale swap in
    ``percentile_approx`` per partition; this query pins the exact
    semantics."""
    pairs = extract_pairs(transcripts_from_events(spark, sf_dir))
    return (
        pairs.where(F.col("latency_sec").isNotNull())
        .groupBy("resp_role")
        .agg(
            F.expr("percentile(latency_sec, 0.5)").alias("p50"),
            F.expr("percentile(latency_sec, 0.9)").alias("p90"),
            F.expr("percentile(latency_sec, 0.95)").alias("p95"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )


SQL_LATENCY_QUANTILES = f"""{TRANSCRIPTS_CTE},
win AS (
  SELECT conv_id, turn_idx, role, ts,
    first_value(CASE WHEN role IN ('assistant', 'tool') THEN ts END IGNORE NULLS)
      OVER w AS resp_ts,
    first_value(CASE WHEN role IN ('assistant', 'tool') THEN role END IGNORE NULLS)
      OVER w AS resp_role
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT resp_role,
  quantile_cont(floor(epoch(resp_ts)) - floor(epoch(ts)), 0.5) AS p50,
  quantile_cont(floor(epoch(resp_ts)) - floor(epoch(ts)), 0.9) AS p90,
  quantile_cont(floor(epoch(resp_ts)) - floor(epoch(ts)), 0.95) AS p95,
  CAST(count(*) AS BIGINT) AS n_pairs
FROM win
WHERE role = 'user' AND resp_ts IS NOT NULL
GROUP BY resp_role
"""


# --- KMV distinct-count sketch (portable, bit-exact in both engines) --------
_KMV_K = 16


def q_conv_token_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct-token count per conversation via a K-minimum-
    values sketch — the mergeable-sketch pattern for cardinality at scale.
    Unlike HLL (``approx_count_distinct``), KMV over an md5-derived hash is
    engine-portable, so the ORACLE CHECKS THE SKETCH ITSELF bit-for-bit:
    estimate = (K-1) / h_K where h_K is the K-th smallest normalized hash of
    the distinct tokens (exact count returned below K). The plan is the
    at-scale shape: distinct on (conv_id, token) with map-side combine, then
    one window pass — token text never rides the final aggregation."""
    tv = transcripts_from_events(spark, sf_dir)
    toks = (
        tv.select("conv_id", F.explode(textfn.tokens(F.col("text"))).alias("tok"))
        .distinct()
    )
    h = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        / F.lit(float(2**32))
    ).alias("h")
    from pyspark.sql import Window as W

    ranked = toks.select("conv_id", h).withColumn(
        "rn", F.row_number().over(W.partitionBy("conv_id").orderBy("h"))
    )
    agg = ranked.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_tokens_exact"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("_h_k"),
    )
    est = F.when(
        F.col("n_tokens_exact") >= _KMV_K, F.lit(float(_KMV_K - 1)) / F.col("_h_k")
    ).otherwise(F.col("n_tokens_exact").cast("double"))
    return agg.select("conv_id", "n_tokens_exact", est.alias("kmv_estimate"))


SQL_CONV_TOKEN_KMV = f"""{TRANSCRIPTS_CTE},
toks AS (
  SELECT DISTINCT conv_id, tok FROM (
    SELECT conv_id,
      unnest(CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tok
    FROM transcripts
  )
),
hashed AS (
  SELECT conv_id,
    CAST(('0x' || substring(md5(tok), 1, 8))::BIGINT AS BIGINT) / 4294967296.0 AS h
  FROM toks
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id ORDER BY h) AS rn FROM hashed
),
agg AS (
  SELECT conv_id, count(*) AS n_exact, max(CASE WHEN rn = {_KMV_K} THEN h END) AS h_k
  FROM ranked GROUP BY conv_id
)
SELECT conv_id,
  CAST(n_exact AS BIGINT) AS n_tokens_exact,
  CASE WHEN n_exact >= {_KMV_K} THEN {float(_KMV_K - 1)} / h_k
       ELSE CAST(n_exact AS DOUBLE) END AS kmv_estimate
FROM agg
"""


# --- skew: two-phase salted aggregation — same oracle as `conversations` ----
def q_conversations_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stellar_etl_spark.operators.salt import extract_conversations_salted

    return extract_conversations_salted(
        transcripts_from_events(spark, sf_dir), buckets=16, conv_seq=_seq()
    )


# --- near-dup / approx queries ----------------------------------------------
def q_doc_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash/LSH candidates + exact-Jaccard verify. The VERIFIED output is
    hash-free — exact 3-gram Jaccard — so the oracle brute-forces all pairs;
    a hash mismatch would surface any LSH recall miss as a hard failure."""
    from stellar_etl_spark.functions.dedup import minhash_candidate_pairs

    d = _scaled_read(spark, f"{sf_dir}/documents.parquet", "doc_id")
    return minhash_candidate_pairs(d, min_jaccard=0.4)


# Brute-force mirror of shingles()/jaccard_ngrams (functions/text.py:140-154):
# k=3 word shingles of the normalized text (docs with <=3 words yield one
# whole-text shingle), DISTINCT sets, unrounded double division — identical
# integer counts on both engines make the double bit-exact.
SQL_DOC_MINHASH_PAIRS = f"""
WITH norm AS (SELECT doc_id, regexp_split_to_array({_SQL_NORM}, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id,
    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
         ELSE [array_to_string(w[i+1:i+3], ' ') FOR i IN range(0, len(w)-2)] END AS gs
  FROM norm
),
sets AS (SELECT doc_id, list_distinct(gs) AS gs FROM grams),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    len(list_intersect(a.gs, b.gs)) AS i,
    len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)) AS u
  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(i AS DOUBLE)/CAST(u AS DOUBLE) AS jaccard FROM pairs
WHERE CAST(i AS DOUBLE)/CAST(u AS DOUBLE) >= 0.4
"""


def q_doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable SimHash near-dups: md5-derived gram hashes and 2x32-bit
    signature halves are recomputable in DuckDB, so the full hamming<=3
    relation (candidates via 4x16-bit block pigeonhole, recall exactly 1)
    is oracle-checked end-to-end. The xxhash64 variant
    (functions/dedup.py:simhash_near_dups) is the scale-default."""
    from stellar_etl_spark.functions.dedup import simhash_near_dups_portable

    d = _scaled_read(spark, f"{sf_dir}/documents.parquet", "doc_id")
    return simhash_near_dups_portable(d, max_hamming=3, k=3)


def _sql_simhash_portable(max_hamming: int = 3) -> str:
    """DuckDB mirror of simhash_rows_portable + all-pairs hamming: same md5
    hex-half gram hashes, same 64 vote sums, same bit pack."""
    vh = ",\n    ".join(
        f"sum(CASE WHEN (h_hi >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS vh{b}" for b in range(32)
    )
    vl = ",\n    ".join(
        f"sum(CASE WHEN (h_lo >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS vl{b}" for b in range(32)
    )
    pack_hi = " + ".join(f"(CASE WHEN vh{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(32))
    pack_lo = " + ".join(f"(CASE WHEN vl{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(32))
    return f"""
WITH norm AS (SELECT doc_id, regexp_split_to_array({_SQL_NORM}, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id,
    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
         ELSE [array_to_string(w[i+1:i+3], ' ') FOR i IN range(0, len(w)-2)] END AS gs
  FROM norm
),
g AS (SELECT doc_id, unnest(gs) AS gram FROM grams),
gh AS (
  SELECT doc_id,
    ('0x' || substr(md5(gram), 1, 8))::BIGINT AS h_hi,
    ('0x' || substr(md5(gram), 9, 8))::BIGINT AS h_lo
  FROM g
),
votes AS (
  SELECT doc_id,
    {vh},
    {vl}
  FROM gh GROUP BY doc_id
),
sigs AS (SELECT doc_id, {pack_hi} AS sig_hi, {pack_lo} AS sig_lo FROM votes),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    bit_count(xor(a.sig_hi, b.sig_hi)) + bit_count(xor(a.sig_lo, b.sig_lo)) AS hamming
  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming FROM pairs
WHERE hamming <= {max_hamming}
"""


SQL_DOC_SIMHASH_PAIRS = _sql_simhash_portable(3)


def q_strkey_handles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: vectorized pandas-UDF strkey encode/decode round trip over the
    conversation ids. Driver-hash-checked down to the HANDLE BYTES: the
    oracle joins each conv_id against handles precomputed by the independent
    scalar reference implementation (encoding._crc16_xmodem + b32encode), so
    the numpy batch CRC path is cross-checked value-for-value, not just for
    round-trip survival. Rows that fail the decode round trip are dropped
    (visible as a row-count mismatch)."""
    from stellar_etl_spark.functions.encoding import strkey_decode, strkey_encode

    # asNondeterministic (guide §4.4): without it the optimizer pushes the
    # round-trip filter BELOW the distinct aggregate, running BOTH chained
    # Arrow UDFs over every base row instead of every distinct conv_id
    # (measured 17 s vs <1 s at 10^6 events / 15k convs). The functions are
    # in fact deterministic, so results are unchanged.
    enc_nd = strkey_encode.asNondeterministic()
    dec_nd = strkey_decode.asNondeterministic()
    tv = transcripts_from_events(spark, sf_dir).select("conv_id").distinct()
    enc = tv.withColumn("handle", enc_nd(F.col("conv_id")))
    return (
        enc.withColumn("decoded", dec_nd(F.col("handle")))
        .where(F.col("decoded") == F.col("conv_id"))
        .select("conv_id", "handle")
    )


def _strkey_expected_values(n_users: int = 2048) -> str:
    """Literal (conv_id, handle) rows computed with the SCALAR reference
    implementation — independent of the batch numpy path under test. Covers
    user_id 0..n_users-1, which spans every driver fixture up to sf0.1
    (1,500 conversations); an id outside the covered range surfaces as a
    NULL handle in the LEFT JOIN below (a loud hash mismatch), never a
    silent drop — widen n_users if the fixtures ever grow past it."""
    import base64 as _b64

    from stellar_etl_spark.functions.encoding import _VERSION_BYTE, _crc16_xmodem

    rows = []
    for uid in range(n_users):
        conv_id = f"conv_{uid:08d}"
        payload = bytes([_VERSION_BYTE]) + conv_id.encode()
        crc = _crc16_xmodem(payload)
        handle = _b64.b32encode(payload + crc.to_bytes(2, "little")).decode().rstrip("=")
        rows.append(f"('{conv_id}', '{handle}')")
    return ",\n    ".join(rows)


SQL_STRKEY_HANDLES = f"""{TRANSCRIPTS_CTE},
expected(e_conv_id, handle) AS (
  VALUES
    {_strkey_expected_values()}
)
SELECT DISTINCT t.conv_id, e.handle
FROM transcripts t
LEFT JOIN expected e ON t.conv_id = e.e_conv_id
"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k over portable (md5-literal) hyperplanes — the
    oracle rebuilds the same buckets and probe set in SQL, so bucketing,
    probing, and ranking are all hash-checked (not just recall-sampled)."""
    from stellar_etl_spark.functions.similarity import lsh_topk_portable

    emb = _scaled_read(spark, f"{sf_dir}/embeddings.parquet", "vec_id")
    out = lsh_topk_portable(
        emb, emb.where(F.col("vec_id") < 5), dim=64, k=10, bits=8, probe_hamming=1
    )
    return out.select("query_id", "rank", "neighbor_id")


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN over deterministic medoid lists (similarity.py:ivf_topk)
    — the oracle rebuilds the SAME index relationally (medoid pick by
    md5(seed:id), per-vector argmin assignment, n_probe query lists,
    candidate scoring, rank), so the whole index construction and probe path
    are hash-checked."""
    from stellar_etl_spark.functions.similarity import ivf_topk

    emb = _scaled_read(spark, f"{sf_dir}/embeddings.parquet", "vec_id")
    out = ivf_topk(emb, emb.where(F.col("vec_id") < 5), k=10, n_lists=16, n_probe=4)
    return out.select("query_id", "rank", "neighbor_id")


_SQL_COS = (
    "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) "
    "* sqrt(list_dot_product({b}, {b})) + 1e-12), 6)"
)

SQL_ANN_IVF_TOPK = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
med AS (
  SELECT vec_id AS list_id, vec AS mvec
  FROM v ORDER BY md5('42:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
),
cass AS (
  SELECT neighbor_id, list_id FROM (
    SELECT a.vec_id AS neighbor_id, m.list_id,
      row_number() OVER (PARTITION BY a.vec_id
        ORDER BY {_SQL_COS.format(a='a.vec', b='m.mvec')} DESC, m.list_id) AS rn
    FROM v a CROSS JOIN med m
  ) WHERE rn = 1
),
qass AS (
  SELECT query_id, list_id FROM (
    SELECT qv.vec_id AS query_id, m.list_id,
      row_number() OVER (PARTITION BY qv.vec_id
        ORDER BY {_SQL_COS.format(a='qv.vec', b='m.mvec')} DESC, m.list_id) AS rn
    FROM v qv CROSS JOIN med m WHERE qv.vec_id < 5
  ) WHERE rn <= 4
),
s AS (
  SELECT q.query_id, c.neighbor_id,
    {_SQL_COS.format(a='qvec.vec', b='cvec.vec')} AS sim
  FROM cass c
  JOIN qass q USING (list_id)
  JOIN v cvec ON cvec.vec_id = c.neighbor_id
  JOIN v qvec ON qvec.vec_id = q.query_id
  WHERE c.neighbor_id <> q.query_id
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM s
)
WHERE rank <= 10
"""


def _sql_lsh_topk_portable(
    dim: int = 64, bits: int = 8, seed: int = 42, k: int = 10, probe_hamming: int = 1
) -> str:
    from stellar_etl_spark.functions.similarity import _probe_masks, portable_planes

    planes = portable_planes(dim, bits, seed)

    def sig(vcol: str) -> str:
        terms = []
        for b, plane in enumerate(planes):
            lits = ", ".join(str(x) for x in plane)
            terms.append(
                f"(CASE WHEN list_dot_product({vcol}, [{lits}]) > 0 THEN {1 << b} ELSE 0 END)"
            )
        return "CAST(" + " + ".join(terms) + " AS BIGINT)"

    masks = _probe_masks(bits, probe_hamming)
    probes = ", ".join(f"xor(bucket, CAST({m} AS BIGINT))" if m else "bucket" for m in masks)
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
qs AS (SELECT query_id, qv, {sig('qv')} AS bucket FROM q),
cs AS (SELECT neighbor_id, cv, {sig('cv')} AS bucket FROM c),
probes AS (SELECT query_id, qv, unnest([{probes}]) AS bucket FROM qs),
s AS (
  SELECT query_id, neighbor_id,
    round(list_dot_product(qv, cv)
      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)) + 1e-12), 6) AS sim
  FROM cs JOIN probes USING (bucket)
  WHERE neighbor_id <> query_id
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM s
)
WHERE rank <= {k}
"""


SQL_ANN_LSH_TOPK = _sql_lsh_topk_portable()


# --- T10 trustline analog (transform/trustline.go: account<->asset
# permission row with authorization flags and balance) -----------------------
def q_tool_grants(spark: SparkSession, sf_dir: str) -> DataFrame:
    tv = transcripts_from_events(spark, sf_dir)
    failed = F.startswith(F.coalesce(F.col("text"), F.lit("")), F.lit("error:"))
    return (
        tv.where(F.col("tool").isNotNull())
        .groupBy("conv_id", "tool")
        .agg(
            F.min("ts").alias("first_used_ts"),
            F.max("ts").alias("last_used_ts"),
            F.count(F.lit(1)).alias("n_uses"),
            F.count(F.when(failed, 1)).alias("n_failed"),
            F.sum(F.length(F.coalesce(F.col("text"), F.lit("")))).alias("total_chars"),
        )
        .withColumn("authorized", F.col("n_failed") == 0)
    )


SQL_TOOL_GRANTS = f"""{TRANSCRIPTS_CTE}
SELECT conv_id, tool,
  min(ts) AS first_used_ts,
  max(ts) AS last_used_ts,
  CAST(count(*) AS BIGINT) AS n_uses,
  CAST(count(*) FILTER (WHERE starts_with(coalesce(text,''), 'error:')) AS BIGINT) AS n_failed,
  CAST(sum(length(coalesce(text,''))) AS BIGINT) AS total_chars,
  (count(*) FILTER (WHERE starts_with(coalesce(text,''), 'error:')) = 0) AS authorized
FROM transcripts
WHERE tool IS NOT NULL
GROUP BY conv_id, tool
"""


# --- T13 pool analog (transform/liquidity_pool.go: per-pool reserves +
# share-of-total) -------------------------------------------------------------
def q_tool_pools(spark: SparkSession, sf_dir: str) -> DataFrame:
    tv = transcripts_from_events(spark, sf_dir)
    per = (
        tv.where(F.col("tool").isNotNull())
        .groupBy("tool")
        .agg(
            F.countDistinct("conv_id").alias("n_convs"),
            F.count(F.lit(1)).alias("n_calls"),
            F.sum(F.length(F.coalesce(F.col("text"), F.lit("")))).alias("total_chars"),
        )
    )
    from pyspark.sql import Window as W

    total = F.sum("n_calls").over(W.partitionBy())
    return per.select(
        "tool",
        "n_convs",
        "n_calls",
        "total_chars",
        (F.col("total_chars").cast("double") / F.col("n_calls").cast("double")).alias("avg_chars"),
        (F.col("n_calls").cast("double") / total.cast("double")).alias("share_of_calls"),
    )


SQL_TOOL_POOLS = f"""{TRANSCRIPTS_CTE},
per AS (
  SELECT tool,
    CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
    CAST(count(*) AS BIGINT) AS n_calls,
    CAST(sum(length(coalesce(text,''))) AS BIGINT) AS total_chars
  FROM transcripts WHERE tool IS NOT NULL GROUP BY tool
)
SELECT tool, n_convs, n_calls, total_chars,
  CAST(total_chars AS DOUBLE) / CAST(n_calls AS DOUBLE) AS avg_chars,
  CAST(n_calls AS DOUBLE) / CAST(sum(n_calls) OVER () AS DOUBLE) AS share_of_calls
FROM per
"""


# --- T18 TTL analog (transform/ttl.go: key hash + live-until) ----------------
def q_conv_ttls(spark: SparkSession, sf_dir: str) -> DataFrame:
    tv = transcripts_from_events(spark, sf_dir)
    return tv.groupBy("conv_id").agg(
        F.sha2(F.col("conv_id").cast("binary"), 256).alias("key_hash"),
        (F.max("ts") + F.expr("INTERVAL 1800 SECONDS")).alias("live_until_ts"),
        F.max("ts").alias("last_seen_ts"),
    )


SQL_CONV_TTLS = f"""{TRANSCRIPTS_CTE}
SELECT conv_id,
  sha256(conv_id) AS key_hash,
  max(ts) + INTERVAL 1800 SECOND AS live_until_ts,
  max(ts) AS last_seen_ts
FROM transcripts
GROUP BY conv_id
"""


# --- T19 restored-key filter+projection (transform/ledger_entry.go restored
# branch: only entries coming back after eviction, with their restore point) --
def q_restored_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    tv = transcripts_from_events(spark, sf_dir)
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    gap = (
        F.floor(F.unix_timestamp("ts")) - F.floor(F.unix_timestamp(F.lag("ts").over(w)))
    ).cast("long")
    return (
        tv.select("conv_id", "turn_idx", "role", "ts", gap.alias("gap_sec"))
        .where(F.col("gap_sec") > 1800)
    )


SQL_RESTORED_TURNS = f"""{TRANSCRIPTS_CTE},
g AS (
  SELECT conv_id, turn_idx, role, ts,
    floor(epoch(ts)) - floor(epoch(lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx))) AS gap_sec
  FROM transcripts
)
SELECT conv_id, turn_idx, role, ts, CAST(gap_sec AS BIGINT) AS gap_sec
FROM g WHERE gap_sec > 1800
"""


# --- T11 offer-price analog (transform/offer.go: exact rational price n/d
# plus the double approximation) ----------------------------------------------
def q_response_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    tv = transcripts_from_events(spark, sf_dir)
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    ntok = textfn.token_count(F.col("text"))
    base = tv.select(
        "conv_id",
        "turn_idx",
        "role",
        ntok.alias("n"),
        F.lag("role").over(w).alias("prev_role"),
        F.lag(ntok).over(w).alias("d"),
    )
    return (
        base.where((F.col("role") == "assistant") & (F.col("prev_role") == "user"))
        .select(
            "conv_id",
            "turn_idx",
            "n",
            "d",
            F.when(F.col("d") > 0, F.col("n").cast("double") / F.col("d").cast("double"))
            .alias("price"),
        )
    )


SQL_RESPONSE_RATIOS = f"""{TRANSCRIPTS_CTE},
g AS (
  SELECT conv_id, turn_idx, role,
    {_SQL_NTOK} AS n,
    lag(role) OVER w AS prev_role,
    lag({_SQL_NTOK}) OVER w AS d
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, turn_idx, n, d,
  CASE WHEN d > 0 THEN CAST(n AS DOUBLE) / CAST(d AS DOUBLE) END AS price
FROM g WHERE role = 'assistant' AND prev_role = 'user'
"""


# ---------------------------------------------------------------------------
# Registry
#
# DRIVER-WINDOW INVARIANT: the per-round correctness driver verifies (at
# most) the FIRST ~50 entries of this dict in order — CORRECTNESS_r04
# contained exactly the first 50 of 52, silently dropping the last two.
# Keep len(REGISTRY) <= 50 (pinned by tests/test_oracle_parity.py::
# test_registry_inside_driver_window) and
# put new or freshly-rewritten queries EARLY in the dict, never appended at
# the end.
# ---------------------------------------------------------------------------
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    "turns": (q_turns, SQL_TURNS),
    "turns_raw": (q_turns_raw, SQL_TURNS_RAW),
    "conversations": (q_conversations, SQL_CONVERSATIONS),
    "conversations_windowed": (q_conversations_windowed, SQL_CONVERSATIONS_WINDOWED),
    "conv_profile": (q_conv_profile, SQL_CONV_PROFILE),
    "units": (q_units, SQL_UNITS),
    "units_details": (q_units_details, SQL_UNITS_DETAILS),
    "effects": (q_effects, SQL_EFFECTS),
    "effects_contextual": (q_effects_contextual, SQL_EFFECTS_CONTEXTUAL),
    "effects_details": (q_effects_details, SQL_EFFECTS_DETAILS),
    "pairs": (q_pairs, SQL_PAIRS),
    # the stateful streaming paths themselves (checkpoint + exactly-once sink
    # under AvailableNow), not their batch twins: custom applyInPandasWithState
    # matcher, native stream-stream join, native session windows
    "streaming_pairs": (q_streaming_pairs, SQL_STREAMING_PAIRS),
    "stream_join_pairs": (q_stream_join_pairs, SQL_STREAM_JOIN_PAIRS),
    "streaming_sessions": (q_streaming_sessions, SQL_STREAMING_SESSIONS),
    "streaming_conv_state": (q_streaming_conv_state, SQL_STREAMING_CONV_STATE),
    "fanout_turns": (q_fanout_turns, SQL_TURNS),
    "sessions": (q_sessions, SQL_SESSIONS),
    "first_turns": (q_first_turns, SQL_FIRST_TURNS),
    "last_state": (q_last_state, SQL_LAST_STATE),
    "star_denorm": (q_star_denorm, SQL_STAR_DENORM),
    "tool_grants": (q_tool_grants, SQL_TOOL_GRANTS),
    "tool_pools": (q_tool_pools, SQL_TOOL_POOLS),
    "conv_ttls": (q_conv_ttls, SQL_CONV_TTLS),
    "restored_turns": (q_restored_turns, SQL_RESTORED_TURNS),
    "response_ratios": (q_response_ratios, SQL_RESPONSE_RATIOS),
    "time_range": (q_time_range, SQL_TIME_RANGE),
    "batch_bounds": (q_batch_bounds, SQL_BATCH_BOUNDS),
    "doc_quality": (q_doc_quality, SQL_DOC_QUALITY),
    "doc_exact_dedup": (q_doc_exact_dedup, SQL_DOC_EXACT_DEDUP),
    "doc_dup_clusters": (q_doc_dup_clusters, SQL_DOC_DUP_CLUSTERS),
    # end-to-end corpus pipeline (gate/dedup/CC/split/pack in ONE relation);
    # took the slot of the retired tpch_segment_revenue demo (its broadcast
    # fact<->dim join stays pinned by star_denorm / test_plans.py J7).
    "corpus_manifest": (q_corpus_manifest, SQL_CORPUS_MANIFEST),
    # ANN block stays contiguous and INSIDE the driver window (r04 dropped
    # the two non-brute-force entries by appending them at position 51-52)
    "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_COSINE_TOPK),
    "ann_lsh_topk": (q_ann_lsh_topk, SQL_ANN_LSH_TOPK),
    "ann_ivf_topk": (q_ann_ivf_topk, SQL_ANN_IVF_TOPK),
    "embedding_near_dups": (q_embedding_near_dups, SQL_EMBEDDING_NEAR_DUPS),
    "media_features": (q_media_features, SQL_MEDIA_FEATURES),
    "tpch_pricing": (q_tpch_pricing, SQL_TPCH_PRICING),
    "timeline": (q_timeline, SQL_TIMELINE),
    "tool_diffs": (q_tool_diffs, SQL_TOOL_DIFFS),
    "conv_participants": (q_conv_participants, SQL_CONV_PARTICIPANTS),
    "conv_tool_stats": (q_conv_tool_stats, SQL_CONV_TOOL_STATS),
    "latest_turns": (q_latest_turns, SQL_LATEST_TURNS),
    "conversations_sliding": (q_conversations_sliding, SQL_CONVERSATIONS_SLIDING),
    "structured_payload": (q_structured_payload, SQL_STRUCTURED_PAYLOAD),
    "conversations_salted": (q_conversations_salted, SQL_CONVERSATIONS),
    # portable KMV sketch: the oracle recomputes the estimator itself
    "conv_token_kmv": (q_conv_token_kmv, SQL_CONV_TOKEN_KMV),
    # exact interpolated percentiles — bit-identical across engines
    "latency_quantiles": (q_latency_quantiles, SQL_LATENCY_QUANTILES),
    # near-dup / approx ops: verified outputs (or portable-hash variants) are
    # engine-independent, so these carry full oracles too
    "doc_minhash_pairs": (q_doc_minhash_pairs, SQL_DOC_MINHASH_PAIRS),
    "strkey_handles": (q_strkey_handles, SQL_STRKEY_HANDLES),
    "doc_simhash_pairs": (q_doc_simhash_pairs, SQL_DOC_SIMHASH_PAIRS),
}


def _with_utc(fn: QueryFn) -> QueryFn:
    # every query computes epoch-derived values; the caller's session timezone
    # is not ours to assume (see transcript_view.ensure_utc)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from stellar_etl_spark.plans.transcript_view import ensure_utc

        ensure_utc(spark)
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, QueryFn]:
    return {name: _with_utc(fn) for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}
