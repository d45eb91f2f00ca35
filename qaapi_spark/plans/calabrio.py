"""The reference's curated-layer DAG (Update...sql, 7 statements) as
Catalyst plans over the Calabrio-shaped JSON fixtures, each with a
DuckDB `read_json` oracle.

These queries ignore ``sf_dir``: the Calabrio entities are a fixed
fixture corpus (tools/gen_fixtures.py — deterministic, committed at
fixtures/), because the driver's test tables don't carry the nested
document shapes this pipeline exists for.

Curated output shapes and column order are contractual
(FIXTURES.md A6; positional INSERT VALUES at Update...sql:52,78,132).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from qaapi_spark import transforms as T
from qaapi_spark.plans.catalog import query
from qaapi_spark.sources.landing import read_entity
from qaapi_spark.session import scratch_dir as _scratch_dir

FIXTURES_DIR = "/root/repo/fixtures"

_URL_PREFIX = T.URL_PREFIX

# DuckDB fragment: epoch-ms -> Denver wall time (naive), mirroring
# transforms.denver_ntz with session tz UTC.
_DD_DENVER = "timezone('America/Denver', timezone('UTC', epoch_ms({col})))"


@query(
    "calabrio_forms_flatten",
    oracle=f"""
    WITH f AS (SELECT * FROM read_json('{FIXTURES_DIR}/forms.json')),
    s AS (SELECT id AS form_id, name AS form_name, unnest(sections) AS sec FROM f),
    q AS (SELECT form_id, form_name, sec.id AS section_id, sec.name AS section_name,
                 sec.weight AS section_weight, unnest(sec.questions) AS que FROM s),
    o AS (SELECT form_id, form_name, section_id, section_name, section_weight,
                 que.id AS question_id, que.text AS question_text,
                 que.weight AS question_weight, unnest(que.options) AS opt FROM q)
    SELECT form_id, form_name, section_id, section_name, section_weight,
           question_id, question_text, question_weight,
           opt.id AS option_id, opt.label AS option_label,
           opt.points AS option_points, opt.type AS option_type
    FROM o
    ORDER BY form_id, section_id, question_id, option_id
    """,
    doc="t_qa_forms: 3-level inner LATERAL FLATTEN (L1); ref Update...sql:6-27",
)
def calabrio_forms_flatten(spark, sf_dir):
    f = read_entity(spark, f"{FIXTURES_DIR}/forms.json", "forms")
    return T.forms_flatten(f).orderBy("form_id", "section_id", "question_id", "option_id")


@query(
    "calabrio_contacts_curated",
    oracle=f"""
    SELECT DISTINCT id AS contact_id,
           {_DD_DENVER.format(col="startTime")} AS contact_start_time,
           '{_URL_PREFIX}' || CAST(id AS VARCHAR) || '/review' AS contact_url,
           assocCallId AS cjp_session_id
    FROM read_json('{FIXTURES_DIR}/all_contacts_*.json')
    ORDER BY contact_id
    """,
    doc="t_contacts: glob-union batches + insert-only dedup + epoch->Denver + "
    "URL concat (S11,J2,F2,F3,F11); ref Update...sql:36-79",
)
def calabrio_contacts_curated(spark, sf_dir):
    c = read_entity(spark, f"{FIXTURES_DIR}/all_contacts_*.json", "all_contacts")
    return T.contacts_curated(c).distinct().orderBy("contact_id")


@query(
    "calabrio_evaluations_curated",
    oracle=f"""
    WITH e AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY evaluated DESC) AS rn
        FROM read_json('{FIXTURES_DIR}/fix_eval_raw.json')
        WHERE state.text = 'SCORED'
    )
    SELECT id AS evaluation_id,
           evalForm.evalFormId AS form_id,
           CAST(regexp_extract(qualityRef, '([0-9]+)$', 1) AS BIGINT) AS contact_id,
           agent.id AS agent_id,
           evaluator.id AS evaluator_id,
           CASE WHEN isScoreCounted THEN 'Evaluation' ELSE 'Calibration' END AS eval_type,
           {_DD_DENVER.format(col="evaluated")} AS evaluated_date,
           responseState.text AS response_state,
           additiveScore AS raw_score,
           totalScore AS final_score
    FROM e WHERE rn = 1
    ORDER BY evaluation_id
    """,
    doc="t_qa_evaluations: SCORED filter (P4) + W1 dedup + regex contact id (F5) + "
    "IFF eval type (F9); ref Update...sql:97-134",
)
def calabrio_evaluations_curated(spark, sf_dir):
    e = read_entity(spark, f"{FIXTURES_DIR}/fix_eval_raw.json", "evaluations")
    return T.evaluations_curated(e).orderBy("evaluation_id")


@query(
    "calabrio_scores_flatten",
    oracle=f"""
    WITH e AS (
        SELECT DISTINCT id, qualityRef, sections
        FROM read_json('{FIXTURES_DIR}/fix_eval_raw.json')
        WHERE state.text = 'SCORED'
    ),
    s AS (SELECT id, qualityRef, unnest(sections) AS sec FROM e),
    q AS (SELECT id, qualityRef, sec.id AS section_id, unnest(sec.questions) AS que FROM s)
    SELECT DISTINCT id AS evaluation_id,
           CAST(regexp_extract(qualityRef, '([0-9]+)$', 1) AS BIGINT) AS contact_id,
           section_id,
           que.id AS question_id,
           que.selectedOption AS option_id
    FROM q
    ORDER BY evaluation_id, section_id, question_id
    """,
    doc="t_qa_evaluation_scores: 2-level flatten of scored evals (L2); "
    "ref Update...sql:149-170",
)
def calabrio_scores_flatten(spark, sf_dir):
    e = read_entity(spark, f"{FIXTURES_DIR}/fix_eval_raw.json", "evaluations")
    return T.scores_flatten(e).orderBy("evaluation_id", "section_id", "question_id")


@query(
    "calabrio_comments_curated",
    oracle=f"""
    WITH c AS (SELECT * FROM read_json('{FIXTURES_DIR}/fix_comments_raw.json')),
    h AS (SELECT "$ref" AS cref, unnest(history) AS he FROM c),
    joined AS (
        SELECT c."$ref", c.sectionFK, c.questionFK, c.created, c.commentor, c.text,
               h.he.created AS h_created, h.he.commentor."$ref" AS h_commentor_ref
        FROM c LEFT JOIN h ON c."$ref" = h.cref
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY "$ref" ORDER BY h_created DESC NULLS LAST) AS rn
        FROM joined
    )
    SELECT CAST(regexp_extract_all("$ref", '[0-9]+')[3] AS BIGINT) AS comment_id,
           CAST(regexp_extract_all("$ref", '[0-9]+')[1] AS BIGINT) AS contact_id,
           CAST(regexp_extract_all("$ref", '[0-9]+')[2] AS BIGINT) AS evaluation_id,
           sectionFK AS section_id,
           questionFK AS question_id,
           {_DD_DENVER.format(col="COALESCE(h_created, created)")} AS created_date,
           CAST(regexp_extract(COALESCE(h_commentor_ref, commentor."$ref"), '([0-9]+)', 1) AS BIGINT) AS commentor_id,
           text
    FROM ranked
    WHERE rn = 1 AND regexp_matches(text, '[0-9A-Za-z]')
    ORDER BY comment_id
    """,
    doc="t_qa_evaluation_comments: $ref 3-id parse (F7) + history explode_outer "
    "default (L3) + keep-latest (W2) + alnum filter (P6); ref Update...sql:185-215",
)
def calabrio_comments_curated(spark, sf_dir):
    c = read_entity(spark, f"{FIXTURES_DIR}/fix_comments_raw.json", "comments")
    return T.comments_curated(c).orderBy("comment_id")


@query(
    "calabrio_transcripts_flatten",
    oracle=f"""
    WITH t AS (SELECT * FROM read_json('{FIXTURES_DIR}/fix_transcript_raw.json')
               WHERE len(segments) > 0),
    s AS (SELECT ccrid, unnest(segments) AS seg FROM t)
    SELECT ccrid, seg.start_ms AS start_ms, seg.end_ms AS end_ms,
           seg.speaker AS speaker, seg.text AS text
    FROM s ORDER BY ccrid, start_ms
    """,
    doc="transcripts: empty-response skip (S5) + segment flatten; "
    "ref modules/qa_api_handler.py:163-200",
)
def calabrio_transcripts_flatten(spark, sf_dir):
    t = read_entity(spark, f"{FIXTURES_DIR}/fix_transcript_raw.json", "transcripts")
    return T.transcripts_flatten(t).orderBy("ccrid", "start_ms")


@query(
    "calabrio_form_max_scores",
    oracle=f"""
    WITH f AS (SELECT * FROM read_json('{FIXTURES_DIR}/forms.json')),
    s AS (SELECT id AS form_id, name AS form_name, unnest(sections) AS sec FROM f),
    q AS (SELECT form_id, form_name, sec.id AS section_id, sec.weight AS section_weight,
                 unnest(sec.questions) AS que FROM s),
    o AS (SELECT form_id, form_name, section_id, section_weight,
                 que.id AS question_id, que.weight AS question_weight,
                 unnest(que.options) AS opt FROM q),
    qmax AS (
        SELECT form_id, form_name, section_id, section_weight, question_id, question_weight,
               MAX(CASE WHEN opt.type = 'ADDITIVE' THEN opt.points ELSE 0 END) AS max_points
        FROM o GROUP BY ALL
    ),
    smax AS (
        SELECT form_id, form_name, section_id,
               ROUND(section_weight * SUM(question_weight * max_points), 4) AS section_max
        FROM qmax GROUP BY form_id, form_name, section_id, section_weight
    )
    SELECT form_id, form_name, ROUND(SUM(section_max), 4) AS form_max_score
    FROM smax GROUP BY form_id, form_name ORDER BY form_id
    """,
    doc="derived analytic over the forms hierarchy: weighted max-attainable "
    "score per form (nested flatten + two-level re-aggregation; the scoring "
    "semantics the reference's totalScore implies, Update...sql:111-114 + "
    "PDF pp.119-124)",
)
def calabrio_form_max_scores(spark, sf_dir):
    f = read_entity(spark, f"{FIXTURES_DIR}/forms.json", "forms")
    flat = T.forms_flatten(f)
    qmax = flat.groupBy(
        "form_id", "form_name", "section_id", "section_weight", "question_id", "question_weight"
    ).agg(
        F.max(
            F.when(F.col("option_type") == "ADDITIVE", F.col("option_points")).otherwise(0)
        ).alias("max_points")
    )
    smax = qmax.groupBy("form_id", "form_name", "section_id", "section_weight").agg(
        F.round(
            F.col("section_weight") * F.sum(F.col("question_weight") * F.col("max_points")), 4
        ).alias("section_max")
    )
    return (
        smax.groupBy("form_id", "form_name")
        .agg(F.round(F.sum("section_max"), 4).alias("form_max_score"))
        .orderBy("form_id")
    )


# DuckDB fragment: the evaluations_curated transform over one landed
# eval file (SCORED filter + W1 keep-latest dedup + extractions).
def _dd_evals_curated(path: str) -> str:
    return f"""
        SELECT id AS evaluation_id,
               evalForm.evalFormId AS form_id,
               CAST(regexp_extract(qualityRef, '([0-9]+)$', 1) AS BIGINT) AS contact_id,
               agent.id AS agent_id,
               evaluator.id AS evaluator_id,
               CASE WHEN isScoreCounted THEN 'Evaluation' ELSE 'Calibration' END AS eval_type,
               {_DD_DENVER.format(col="evaluated")} AS evaluated_date,
               responseState.text AS response_state,
               additiveScore AS raw_score,
               totalScore AS final_score
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY evaluated DESC) AS rn
              FROM read_json('{path}') WHERE state.text = 'SCORED')
        WHERE rn = 1
    """


_PIPELINE_ORACLE = f"""
    WITH b1 AS ({_dd_evals_curated(FIXTURES_DIR + "/fix_eval_raw.json")}),
    b2 AS ({_dd_evals_curated(FIXTURES_DIR + "/batch2/fix_eval_raw.json")}),
    -- J5: delete target evals whose contact is in batch 2 but whose
    -- eval id vanished upstream
    survivors AS (
        SELECT * FROM b1 WHERE NOT (
            contact_id IN (SELECT contact_id FROM b2)
            AND evaluation_id NOT IN (SELECT evaluation_id FROM b2))
    ),
    -- J3: matched rows take batch values for the update-column subset,
    -- but keep the target's evaluated_date (Update...sql:128-130)
    merged AS (
        SELECT s.evaluation_id,
               CASE WHEN b2.evaluation_id IS NULL THEN s.form_id ELSE b2.form_id END AS form_id,
               CASE WHEN b2.evaluation_id IS NULL THEN s.contact_id ELSE b2.contact_id END AS contact_id,
               CASE WHEN b2.evaluation_id IS NULL THEN s.agent_id ELSE b2.agent_id END AS agent_id,
               CASE WHEN b2.evaluation_id IS NULL THEN s.evaluator_id ELSE b2.evaluator_id END AS evaluator_id,
               CASE WHEN b2.evaluation_id IS NULL THEN s.eval_type ELSE b2.eval_type END AS eval_type,
               s.evaluated_date,
               CASE WHEN b2.evaluation_id IS NULL THEN s.response_state ELSE b2.response_state END AS response_state,
               CASE WHEN b2.evaluation_id IS NULL THEN s.raw_score ELSE b2.raw_score END AS raw_score,
               CASE WHEN b2.evaluation_id IS NULL THEN s.final_score ELSE b2.final_score END AS final_score
        FROM survivors s LEFT JOIN b2 ON s.evaluation_id = b2.evaluation_id
    ),
    inserted AS (
        SELECT * FROM b2
        WHERE evaluation_id NOT IN (SELECT evaluation_id FROM survivors)
    )
    SELECT * FROM merged UNION ALL SELECT * FROM inserted
    ORDER BY evaluation_id
    """


@query(
    "calabrio_pipeline_incremental",
    oracle=_PIPELINE_ORACLE,
    doc="EP1/EP2 end-to-end: two trailing-window batches through the full "
    "pipeline (full-replace, insert-only merge, delete-vanished + upsert, "
    "delete-then-insert), returning the final t_qa_evaluations; each table "
    "is one bucket of the partition-scoped merge, rewritten to "
    "<table>.next and swapped in per batch; the oracle reconstructs the "
    "same reconciliation in SQL; ref SURVEY §3 + Update...sql:85-134",
)
def calabrio_pipeline_incremental(spark, sf_dir):
    import tempfile

    from qaapi_spark.pipeline import CalabrioPipeline

    # fixture batches are tiny: single-file tables and few shuffle
    # partitions (the pipeline runs eagerly inside this fn, so the
    # session conf can be restored before returning)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        # one bucket per table: each batch rewrites it whole and swaps
        # it in; the 8-bucket 100 TB layout is its own catalog query
        # below (calabrio_pipeline_partitioned), so both layouts of the
        # one merge path stay independently oracle-verified and timed
        pipe = CalabrioPipeline(
            spark,
            _scratch_dir(prefix="calabrio_e2e_"),
            output_partitions=1,
        )
        pipe.run_batch(FIXTURES_DIR, collect_counts=False)
        pipe.run_batch(f"{FIXTURES_DIR}/batch2", collect_counts=False)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return pipe.read("t_qa_evaluations").orderBy("evaluation_id")


@query(
    "calabrio_pipeline_partitioned",
    oracle=_PIPELINE_ORACLE,
    doc="same two-batch reconciliation through the PARTITION-SCOPED "
    "maintenance path (operators/partitioned.py): curated tables are "
    "8 contact-id hash buckets and batch 2 rewrites ONLY affected "
    "buckets into <table>.next, hard-links the untouched ones "
    "(untouched-file invariant asserted in "
    "tests/test_partitioned_merge.py) and commits with one crash-safe "
    "swap — the 100 TB merge shape; identical result, hence identical "
    "oracle; small-fixture wall time is job-latency-bound, see SCALE.md",
)
def calabrio_pipeline_partitioned(spark, sf_dir):
    import tempfile

    from qaapi_spark.pipeline import CalabrioPipeline

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        pipe = CalabrioPipeline(
            spark,
            _scratch_dir(prefix="calabrio_part_"),
            output_partitions=1,
            partitioned=True,
        )
        pipe.run_batch(FIXTURES_DIR, collect_counts=False)
        pipe.run_batch(f"{FIXTURES_DIR}/batch2", collect_counts=False)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return pipe.read("t_qa_evaluations").orderBy("evaluation_id")


@query(
    "calabrio_null_evaluator_probe",
    oracle=f"""
    WITH e AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY evaluated DESC) AS rn
        FROM read_json('{FIXTURES_DIR}/fix_eval_raw.json')
        WHERE state.text = 'SCORED'
    )
    SELECT id AS evaluation_id,
           CAST(regexp_extract(qualityRef, '([0-9]+)$', 1) AS BIGINT) AS contact_id,
           agent.id AS agent_id
    FROM e WHERE rn = 1 AND evaluator.id IS NULL
    ORDER BY evaluation_id
    """,
    doc="data-quality probe: evaluations with NULL evaluator (P5 orphan-row "
    "check); ref sql_templates/trouble_children.sql:1-8",
)
def calabrio_null_evaluator_probe(spark, sf_dir):
    e = read_entity(spark, f"{FIXTURES_DIR}/fix_eval_raw.json", "evaluations")
    cur = T.evaluations_curated(e)
    return (
        cur.filter(F.col("evaluator_id").isNull())
        .select("evaluation_id", "contact_id", "agent_id")
        .orderBy("evaluation_id")
    )


@query(
    "stream_rest_extraction_contacts",
    oracle="""
    SELECT id, startTime, assocCallId
    FROM read_json('/root/repo/fixtures/all_contacts_*.json')
    ORDER BY id
    """,
    doc="S2 extraction as a Structured Streaming source: the trailing "
    "window re-pull (Start.py:19,39) with engine offset tracking — "
    "epoch-ms window-boundary offsets, one request window per "
    "partition, fetches through the injectable transport; bounded "
    "replay equals the batch extraction (extension, SURVEY §2.9)",
)
def stream_rest_extraction_contacts(spark, sf_dir):
    import tempfile

    from qaapi_spark.sources.rest_source import CalabrioRestDataSource

    spark.dataSource.register(CalabrioRestDataSource)
    stream = (
        spark.readStream.format("calabrio_rest")
        .option("entity", "contacts")
        .option("base_dir", "/root/repo/fixtures")
        .option("pattern", "all_contacts_*.json")
        .option("begin_date", "2024-03-01")
        .option("end_date", "2024-03-23")
        .option("break_size", "2")
        # availableNow snapshots ONE latestOffset call: size the batch
        # to cover the whole replay range (16 x 2-day windows > 22
        # days); the multi-batch advancement path is unit-tested in
        # tests/test_rest_source.py::test_stream_reader_offsets...
        .option("windows_per_batch", "16")
        .load()
    )
    import uuid as _uuid

    name = "rest_stream_" + _uuid.uuid4().hex[:8]
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            _scratch_dir(prefix="rest_stream_ckpt_"),
        )
        .start()
    )
    q.awaitTermination()
    return spark.sql(
        f"SELECT id, startTime, assocCallId FROM {name}"
    ).orderBy("id")


@query(
    "csv_agents_roster",
    oracle=f"""
    SELECT team,
           COUNT(*) AS n_agents,
           ROUND(SUM(fte), 2) AS total_fte,
           MIN(hired) AS earliest_hire
    FROM read_csv('{FIXTURES_DIR}/agents_roster.csv', header=true,
                  columns={{'agent_id': 'BIGINT', 'name': 'VARCHAR',
                            'team': 'VARCHAR', 'hired': 'DATE',
                            'fte': 'DOUBLE'}})
    GROUP BY team ORDER BY team
    """,
    doc="CSV source with declared schema (S-family format extension: "
    "the reference lands JSON; an engine swap needs the same typed "
    "ingest for delimited files) — schema-up-front read, no inference "
    "pass, aggregate pushes through column pruning so the scan reads "
    "only the grouped/aggregated columns",
)
def csv_agents_roster(spark, sf_dir):
    df = (
        spark.read.schema(
            "agent_id bigint, name string, team string, hired date, fte double"
        )
        .option("header", "true")
        .csv(f"{FIXTURES_DIR}/agents_roster.csv")
    )
    return (
        df.groupBy("team")
        .agg(
            F.count("*").alias("n_agents"),
            F.round(F.sum("fte"), 2).alias("total_fte"),
            F.min("hired").alias("earliest_hire"),
        )
        .orderBy("team")
    )
