"""Seeded input generators for the perfbench workloads.

Every table is produced by one DuckDB `COPY ... TO parquet` statement whose
randomness is `hash(seed, salt, row, ...)`, so the same seed gives
byte-identical inputs and generation is parallel and fast. Tables follow
the schemas of graft's sf test tables (`events`, `documents`,
`embeddings`), so graft reads them with its public entry points unchanged.

Run standalone to stage a workload's inputs:

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import os
import sys

import duckdb

EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]
VOCAB = ("a the data spark scan sort hash join agg group filter window row "
         "column table query key value batch stream merge part line order "
         "small big fast slow vector customer").split()
LANGS = ["en", "en", "en", "en", "es", "es", "zh", "zh", "de", "de", "fr", "fr"]

# `job_gen` keeps the density of the 2.2M-turn `JobMain --input
# gen:440000x5` run it stands for (graft's TranscriptGen: 5 turns per
# conversation, conversation starts spread over 30 days, 1-60 s between
# turns): the time span shrinks with the turn count, so turns per 5-minute
# rollup window, the rollup's reduction and metric rows per turn match.
REF_TURNS = 2_200_000
REF_SPAN_S = 30 * 86_400
TURNS_PER_CONV = 5

# Workload input sizes. `hot_convs` (user, day) conversations of
# `hot_turns` turns each are planted on top of the base conversations: the
# routing / conv-fold skew case (5 x 50k of 2.2M turns in the full-size job).
SIZES = {
    "job_gen": dict(convs=12_000, hot_convs=5, hot_turns=1_400),
    "query_suite": dict(events=20_000, users=1_500, docs=1_000, vecs=400),
}


def _lit_list(xs):
    return "[" + ",".join(f"'{x}'" for x in xs) + "]"


def _rnd(seed, salt, *cols):
    """Uniform UBIGINT from (seed, salt, cols)."""
    return f"hash({int(seed)}::BIGINT, {int(salt)}::BIGINT, {', '.join(cols)})"


def _events_copy(con, path, seed, ids_sql):
    """Write `events` whose ids, users and time offsets come from `ids_sql`
    (columns event_id, user_id, off_us); type, value and props are drawn
    per event."""
    ev = _lit_list(EVENT_TYPES)
    con.execute(f"""
    COPY (
      WITH ids AS ({ids_sql})
      SELECT event_id,
        make_timestamp(1704067200000000 + off_us) AS ts,
        user_id,
        {ev}[({_rnd(seed, 5, 'event_id')} % 5)::INT + 1] AS event_type,
        round(({_rnd(seed, 6, 'event_id')} % 100000)::DOUBLE / 100.0, 2) AS value,
        '{{"k": ' || ({_rnd(seed, 7, 'event_id')} % 100)::VARCHAR || '}}' AS props
      FROM ids ORDER BY event_id
    ) TO '{path}' (FORMAT parquet)
    """)


def job_events(con, path, seed, convs, hot_convs, hot_turns, **_):
    """`events` for the JobMain path: `convs` conversations of 5 turns, one
    user each, started uniformly over the scaled span, turn j at
    start + j * (1 + k % 60) s with k the event's props value, as in
    TranscriptGen; plus `hot_convs` planted users with `hot_turns` turns
    each spread over the span. At the default size the span is 21.9 h from
    midnight, so each user's events form one (user, day) conversation."""
    n = job_turns(convs, hot_convs, hot_turns)
    span_us = REF_SPAN_S * n // REF_TURNS * 1_000_000
    hot_gap = span_us // max(hot_turns, 1)
    _events_copy(con, path, seed, f"""
        SELECT c * {TURNS_PER_CONV} + j AS event_id, c::BIGINT AS user_id,
          ({_rnd(seed, 1, 'c')} % {span_us})::BIGINT
            + j * (1 + {_rnd(seed, 7, f'c * {TURNS_PER_CONV} + j')} % 100 % 60)::BIGINT * 1000000
            AS off_us
        FROM range({convs}) a(c), range({TURNS_PER_CONV}) b(j)
        UNION ALL
        SELECT {convs * TURNS_PER_CONV} + h * {max(hot_turns, 1)} + j AS event_id,
          ({convs} + h)::BIGINT AS user_id,
          j * {hot_gap} + ({_rnd(seed, 4, 'h', 'j')} % {hot_gap})::BIGINT AS off_us
        FROM range({hot_convs}) a(h), range({hot_turns}) b(j)""")


def job_turns(convs, hot_convs, hot_turns, **_):
    return convs * TURNS_PER_CONV + hot_convs * hot_turns


def events(con, path, seed, events, users, **_):
    """`events` in the sf shape: `users` users over 30 days."""
    _events_copy(con, path, seed, f"""
        SELECT i AS event_id,
          ({_rnd(seed, 1, 'i')} % {users})::BIGINT AS user_id,
          ({_rnd(seed, 2, 'i')} % {REF_SPAN_S * 1_000_000})::BIGINT AS off_us
        FROM range({events}) t(i)""")


def documents(con, path, seed, docs, **_):
    """`documents` in the sf shape: random words from a 31-word vocabulary,
    10-89 words each, 20 sources. About 2% of docs are exact copies of an
    earlier doc and 4% near-copies (one word replaced), so the dedup and
    similarity operators find planted pairs."""
    vocab = _lit_list(VOCAB)
    langs = _lit_list(LANGS)
    nv = len(VOCAB)
    con.execute(f"""
    COPY (
      WITH d AS (
        SELECT i AS doc_id,
          ({_rnd(seed, 10, 'i')} % 100)::INT AS roll,
          ({_rnd(seed, 11, 'i')} % 50)::BIGINT AS back
        FROM range({docs}) t(i)
      ),
      b AS (
        SELECT doc_id, roll,
          CASE WHEN roll < 6 AND doc_id > back THEN doc_id - 1 - back ELSE doc_id END AS base
        FROM d
      ),
      w AS (
        SELECT doc_id, roll, base,
          10 + ({_rnd(seed, 12, 'base')} % 80)::INT AS n_words,
          ({_rnd(seed, 13, 'doc_id')} % 10)::INT AS edit_pos
        FROM b
      ),
      t AS (
        SELECT doc_id, base,
          array_to_string(list_transform(range(n_words), j ->
            CASE WHEN roll BETWEEN 2 AND 5 AND base <> doc_id AND j = edit_pos
              THEN {vocab}[({_rnd(seed, 14, 'doc_id')} % {nv})::INT + 1]
              ELSE {vocab}[({_rnd(seed, 15, 'base', 'j')} % {nv})::INT + 1] END), ' ') AS text
        FROM w
      )
      SELECT doc_id, text,
        {langs}[({_rnd(seed, 16, 'base')} % {len(LANGS)})::INT + 1] AS lang,
        'src' || (doc_id % 20)::VARCHAR AS source,
        length(text)::BIGINT AS n_chars
      FROM t ORDER BY doc_id
    ) TO '{path}' (FORMAT parquet)
    """)


def embeddings(con, path, seed, vecs, dims=64, **_):
    """`embeddings` in the sf shape: 64-dim FLOAT[] around 10 label
    centroids, with every 50th vector a near-copy of its predecessor."""
    con.execute(f"""
    COPY (
      WITH v AS (
        SELECT vec_id, (base % 10)::INT AS label, base
        FROM (SELECT i AS vec_id, CASE WHEN i % 50 = 49 THEN i - 1 ELSE i END AS base
              FROM range({vecs}) t(i))
      )
      SELECT vec_id,
        list_transform(range({dims}), j ->
          ((({_rnd(seed, 20, 'label', 'j')} % 2000)::DOUBLE / 1000.0 - 1.0) * 0.12
           + (({_rnd(seed, 21, 'base', 'j')} % 2000)::DOUBLE / 1000.0 - 1.0) * 0.2
           + (({_rnd(seed, 22, 'vec_id', 'j')} % 2000)::DOUBLE / 1000.0 - 1.0) * 0.01
          )::FLOAT)::FLOAT[] AS embedding,
        label
      FROM v ORDER BY vec_id
    ) TO '{path}' (FORMAT parquet)
    """)


def stage(workload, seed, out_dir):
    """Write the workload's input tables under `out_dir`; returns row counts."""
    size = SIZES[workload]
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    try:
        if workload == "job_gen":
            job_events(con, f"{out_dir}/events.parquet", seed, **size)
            rows = {"events": job_turns(**size)}
        else:
            events(con, f"{out_dir}/events.parquet", seed, **size)
            documents(con, f"{out_dir}/documents.parquet", seed, **size)
            embeddings(con, f"{out_dir}/embeddings.parquet", seed, **size)
            rows = {"events": size["events"], "documents": size["docs"], "embeddings": size["vecs"]}
    finally:
        con.close()
    return rows


if __name__ == "__main__":
    print(stage(sys.argv[1], int(sys.argv[2]), sys.argv[3]))
