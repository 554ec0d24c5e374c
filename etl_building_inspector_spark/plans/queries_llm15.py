"""Fifteenth LLM-pipeline batch: phonetic ER blocking and video shot
segmentation — one recall-side upgrade to entity resolution, one
analysis layer over the video frame kernel.

- er_phonetic_blocking: a simplified-Soundex block key (translate +
  bounded run-collapse, engine-portable: NO regex backreferences,
  which RE2/DuckDB lacks) over part names with deterministically
  typo'd variants planted; each surviving pair carries a
  found_by_exact flag, so the recall gain of phonetic over
  exact-first-token blocking is itself data.
- multimodal_video_shot_cuts: per-frame energies derived from the
  frame-fanout kernel's content-addressed stubs, shot cuts where the
  energy delta exceeds a threshold, gaps-and-islands into shot
  segments — the standard shot-boundary pipeline with the decode
  stubbed (no codecs in container) and every downstream step real.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query


# shared constants (the frame cadence lives in queries_llm8 — this
# module consumes its helper and SQL body, never its own copy)
PHON_LEV_MAX = 2
SHOT_DELTA = 400  # energy delta (0..999 scale) that starts a new shot
# synthetic typo rows get NEGATIVE keys: -(k+1) can never collide with
# a real p_partkey at any SF (the '+1e6 offset' class collides at sf5)
TYPO_KEY = "-(k + 1)"

# Simplified Soundex letter classes (vowels/h/w/y -> 0, dropped later).
# Deviation from ANSI Soundex documented: no h/w "separator" rule —
# adjacent same-class codes collapse even across h/w.
_PH_FROM = "abcdefghijklmnopqrstuvwxyz"
_PH_TO = "01230120022455012623010202"


def _phonetic_sql(tok: str) -> str:
    """Simplified-Soundex key of a lowercase token, engine-portable:
    translate -> collapse runs (three fixed replace passes per digit,
    handling runs up to length 8 — RE2 has no backreferences so
    regexp '(.)\\1+' is NOT portable) -> drop vowels-class zeros ->
    first letter + first 3 digits, zero-padded."""
    code = f"translate({tok}, '{_PH_FROM}', '{_PH_TO}')"
    for _ in range(3):
        for d in "123456":
            code = f"replace({code}, '{d}{d}', '{d}')"
    # drop the first char's code, drop zeros, keep 3 digits
    body = f"replace(substr({code}, 2), '0', '')"
    return (
        f"(substr({tok}, 1, 1) || substr({body} || '000', 1, 3))"
    )


# deterministic typo: swap the 2nd and 3rd characters of the first
# token (every part name's first token is >= 3 chars in the fixture)
def _typo_sql(name: str) -> str:
    t1 = f"split_part({name}, ' ', 1)"
    rest = f"substr({name}, length({t1}) + 1)"
    return (
        f"(substr({t1}, 1, 1) || substr({t1}, 3, 1) || substr({t1}, 2, 1) "
        f"|| substr({t1}, 4) || {rest})"
    )


def _phon_sql() -> str:
    typo = _typo_sql("p_name")
    key = _phonetic_sql("split_part(n, ' ', 1)")
    return f"""
WITH base AS (
  SELECT p_name AS n, min(p_partkey) AS k FROM part GROUP BY p_name),
names AS (
  SELECT n, k FROM base
  UNION ALL
  SELECT {typo.replace('p_name', 'n')} AS n, {TYPO_KEY} AS k
  FROM base WHERE k % 7 = 0),
keyed AS (SELECT n, k, {key} AS ph FROM names),
pairs AS (
  SELECT a.n AS name_a, b.n AS name_b,
         CAST(a.k AS BIGINT) AS key_a, CAST(b.k AS BIGINT) AS key_b,
         CAST(levenshtein(a.n, b.n) AS BIGINT) AS dist,
         CAST(split_part(a.n, ' ', 1) = split_part(b.n, ' ', 1) AS BIGINT)
           AS found_by_exact
  FROM keyed a JOIN keyed b ON a.ph = b.ph AND a.n < b.n
  WHERE levenshtein(a.n, b.n) <= {PHON_LEV_MAX})
SELECT * FROM pairs
"""


@query("er_phonetic_blocking", _phon_sql())
def er_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER blocking on a simplified-Soundex key of the first name
    token, over distinct part names plus deterministically typo'd
    variants (2nd/3rd char swap on one in seven). The phonetic key
    survives the transposition, so (original, typo) pairs land in one
    block; found_by_exact = 0 rows are precisely the recall the
    exact-first-token strategy (er_blocked_fuzzy_match) loses. Same
    100 TB shape as any blocking join: equi-join on a bounded-width
    key, edit distance only within blocks."""
    part = load_table(spark, sf_dir, "part")
    base = part.groupBy("p_name").agg(F.min("p_partkey").alias("k"))
    # the typo expression is the ONE generator both engines share —
    # F.expr of the same SQL string, never a hand-copied twin
    names = base.select(F.col("p_name").alias("n"), "k").unionByName(
        base.filter(F.col("k") % 7 == 0).select(
            F.expr(_typo_sql("p_name")).alias("n"),
            F.expr(TYPO_KEY).alias("k"),
        )
    )
    keyed = names.withColumn(
        "ph", F.expr(_phonetic_sql("split_part(n, ' ', 1)"))
    )
    a = keyed.select(
        F.col("n").alias("name_a"), F.col("k").alias("key_a"), "ph"
    )
    b = keyed.select(
        F.col("n").alias("name_b"), F.col("k").alias("key_b"), "ph"
    )
    return (
        a.join(b, "ph")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= PHON_LEV_MAX)
        .select(
            "name_a",
            "name_b",
            F.col("key_a").cast("long").alias("key_a"),
            F.col("key_b").cast("long").alias("key_b"),
            "dist",
            (
                F.split_part(F.col("name_a"), F.lit(" "), F.lit(1))
                == F.split_part(F.col("name_b"), F.lit(" "), F.lit(1))
            )
            .cast("long")
            .alias("found_by_exact"),
        )
    )


# ---------------------------------------------------------------------------
# Shot-boundary detection over the frame kernel: energy per frame from
# the content-addressed stub, a cut where |energy - lag(energy)|
# exceeds SHOT_DELTA, cumulative-sum islands into shots.
# ---------------------------------------------------------------------------


def _shot_sql() -> str:
    from .queries_llm8 import _FRAME_BODY_SQL

    energy = "CAST(concat('0x', substr(md5(frame_hex), 1, 8)) AS BIGINT) % 1000"
    return f"""
WITH frames AS ({_FRAME_BODY_SQL.strip()}),
e AS (SELECT key, frame_idx, {energy} AS energy FROM frames),
cuts AS (
  SELECT key, frame_idx, energy,
         CASE WHEN lag(energy) OVER (PARTITION BY key ORDER BY frame_idx) IS NULL
                THEN 1
              WHEN abs(energy - lag(energy) OVER (PARTITION BY key ORDER BY frame_idx))
                   > {SHOT_DELTA} THEN 1
              ELSE 0 END AS is_cut
  FROM e),
shots AS (
  SELECT key, frame_idx, energy,
         sum(is_cut) OVER (PARTITION BY key ORDER BY frame_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS shot_id
  FROM cuts)
SELECT CAST(key AS BIGINT) AS key,
       CAST(shot_id AS BIGINT) AS shot_id,
       CAST(min(frame_idx) AS BIGINT) AS first_frame,
       CAST(max(frame_idx) AS BIGINT) AS last_frame,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(min(energy) AS BIGINT) AS min_energy,
       CAST(max(energy) AS BIGINT) AS max_energy
FROM shots
GROUP BY key, shot_id
ORDER BY key, shot_id
"""


@query("multimodal_video_shot_cuts", _shot_sql())
def multimodal_video_shot_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary segmentation: frames from the REAL mapInPandas
    fan-out kernel (multimodal.sample_frames), per-frame energy from
    the stub digest (decode is env-gated; the energy stands in for a
    frame-difference score), cut where the energy delta exceeds
    SHOT_DELTA, gaps-and-islands into shots. All per-key windows —
    nothing global. The video twin of
    multimodal_audio_silence_segments."""
    from .queries_llm8 import _video_stub_frames

    frames = _video_stub_frames(spark, sf_dir).select(
        "key", "frame_idx", F.hex("frame").alias("frame_hex")
    )
    energy = (
        F.conv(F.substring(F.md5("frame_hex"), 1, 8), 16, 10).cast("long")
        % 1000
    )
    e = frames.select("key", "frame_idx", energy.alias("energy"))
    w = Window.partitionBy("key").orderBy("frame_idx")
    cuts = e.withColumn(
        "is_cut",
        F.when(F.lag("energy").over(w).isNull(), 1)
        .when(F.abs(F.col("energy") - F.lag("energy").over(w)) > SHOT_DELTA, 1)
        .otherwise(0),
    )
    shots = cuts.withColumn(
        "shot_id",
        F.sum("is_cut").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        shots.groupBy("key", "shot_id")
        .agg(
            F.min("frame_idx").cast("long").alias("first_frame"),
            F.max("frame_idx").cast("long").alias("last_frame"),
            F.count("*").cast("long").alias("n_frames"),
            F.min("energy").cast("long").alias("min_energy"),
            F.max("energy").cast("long").alias("max_energy"),
        )
        .select(
            F.col("key").cast("long").alias("key"),
            F.col("shot_id").cast("long").alias("shot_id"),
            "first_frame",
            "last_frame",
            "n_frames",
            "min_energy",
            "max_energy",
        )
        .orderBy("key", "shot_id")
    )
