"""An independent DuckDB model of the pipeline's four merge rules.

``EtlModel.apply_batch`` replays one landed batch against model tables
held in DuckDB, following the reconciliation that
``calabrio_pipeline_incremental``'s oracle spells out for evaluations and
extending it to every curated table:

  t_qa_forms                full replace
  t_contacts, t_qa_contacts insert-only on contact_id
  t_qa_evaluations          delete vanished evals of batch contacts, then
                            upsert (the target keeps its evaluated_date)
  t_qa_evaluation_scores    delete-then-insert by batch eval contact
  t_qa_evaluation_comments  delete-then-insert by batch contact

``mismatches`` compares the model with a warehouse directory as
multisets, column by column name.  Nothing here imports Spark or
``qaapi_spark``: the model shares no code with what it checks.
"""

from __future__ import annotations

import glob
import os

import duckdb

URL_PREFIX = "https://calabrio.example/recording/contact/"
_DENVER = "timezone('America/Denver', timezone('UTC', epoch_ms({})))"

_FORMS = """
    WITH f AS (SELECT * FROM read_json('{p}')),
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
"""

_CONTACTS = f"""
    SELECT DISTINCT id AS contact_id,
           {_DENVER.format("startTime")} AS contact_start_time,
           '{URL_PREFIX}' || CAST(id AS VARCHAR) || '/review' AS contact_url,
           assocCallId AS cjp_session_id
    FROM read_json('{{p}}', columns={{{{'id': 'BIGINT', 'startTime': 'BIGINT',
                                       'assocCallId': 'VARCHAR'}}}})
"""

# SCORED filter + keep-latest re-export per id
_SCORED = """
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY evaluated DESC) AS rn
        FROM read_json('{p}', columns={{
            'id': 'BIGINT', 'qualityRef': 'VARCHAR',
            'evalForm': 'STRUCT(evalFormId BIGINT)', 'agent': 'STRUCT(id BIGINT)',
            'evaluator': 'STRUCT(id BIGINT)', 'isScoreCounted': 'BOOLEAN',
            'evaluated': 'BIGINT', 'responseState': 'STRUCT(text VARCHAR)',
            'state': 'STRUCT(text VARCHAR)', 'additiveScore': 'BIGINT',
            'totalScore': 'DOUBLE',
            'sections': 'STRUCT(id BIGINT, questions STRUCT(id BIGINT, selectedOption BIGINT)[])[]'
        }})
        WHERE state.text = 'SCORED'
    ) WHERE rn = 1
"""

_EVALS = f"""
    SELECT id AS evaluation_id,
           evalForm.evalFormId AS form_id,
           CAST(regexp_extract(qualityRef, '([0-9]+)$', 1) AS BIGINT) AS contact_id,
           agent.id AS agent_id,
           evaluator.id AS evaluator_id,
           CASE WHEN isScoreCounted THEN 'Evaluation' ELSE 'Calibration' END AS eval_type,
           {_DENVER.format("evaluated")} AS evaluated_date,
           responseState.text AS response_state,
           additiveScore AS raw_score,
           totalScore AS final_score
    FROM b_scored
"""

_SCORES = """
    WITH s AS (SELECT id, qualityRef, unnest(sections) AS sec FROM b_scored),
    q AS (SELECT id, qualityRef, sec.id AS section_id, unnest(sec.questions) AS que FROM s)
    SELECT id AS evaluation_id,
           CAST(regexp_extract(qualityRef, '([0-9]+)$', 1) AS BIGINT) AS contact_id,
           section_id, que.id AS question_id, que.selectedOption AS option_id
    FROM q
"""

_COMMENTS = f"""
    WITH c AS (
        SELECT * FROM read_json('{{p}}', columns={{{{
            '$ref': 'VARCHAR', 'sectionFK': 'BIGINT', 'questionFK': 'BIGINT',
            'created': 'BIGINT', 'commentor': 'STRUCT("$ref" VARCHAR)', 'text': 'VARCHAR',
            'history': 'STRUCT(created BIGINT, commentor STRUCT("$ref" VARCHAR))[]'
        }}}})
    ),
    h AS (SELECT "$ref" AS cref, unnest(history) AS he FROM c),
    joined AS (
        SELECT c."$ref" AS cref, c.sectionFK, c.questionFK, c.created, c.commentor, c.text,
               h.he.created AS h_created, h.he.commentor."$ref" AS h_commentor_ref
        FROM c LEFT JOIN h ON c."$ref" = h.cref
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY cref ORDER BY h_created DESC NULLS LAST) AS rn
        FROM joined
    )
    SELECT CAST(regexp_extract_all(cref, '[0-9]+')[3] AS BIGINT) AS comment_id,
           CAST(regexp_extract_all(cref, '[0-9]+')[1] AS BIGINT) AS contact_id,
           CAST(regexp_extract_all(cref, '[0-9]+')[2] AS BIGINT) AS evaluation_id,
           sectionFK AS section_id,
           questionFK AS question_id,
           {_DENVER.format("COALESCE(h_created, created)")} AS created_date,
           CAST(regexp_extract(COALESCE(h_commentor_ref, commentor."$ref"), '([0-9]+)', 1)
                AS BIGINT) AS commentor_id,
           text
    FROM ranked
    WHERE rn = 1 AND regexp_matches(text, '[0-9A-Za-z]')
"""

TABLES = [
    "t_qa_forms",
    "t_contacts",
    "t_qa_contacts",
    "t_qa_evaluations",
    "t_qa_evaluation_scores",
    "t_qa_evaluation_comments",
]


class EtlModel:
    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")

    def close(self) -> None:
        self.con.close()

    def _exists(self, table: str) -> bool:
        return bool(self.con.execute(
            "SELECT count(*) FROM information_schema.tables WHERE table_name = ?", [table]
        ).fetchone()[0])

    def _insert_only(self, table: str, batch_sql: str) -> None:
        con = self.con
        con.execute(f"CREATE OR REPLACE TEMP TABLE b AS {batch_sql}")
        if not self._exists(table):
            con.execute(f"CREATE TABLE {table} AS SELECT * FROM b")
            return
        con.execute(f"""
            INSERT INTO {table} SELECT * FROM b
            WHERE NOT EXISTS (SELECT 1 FROM {table} t WHERE t.contact_id = b.contact_id)
        """)

    def _delete_insert(self, table: str, batch_sql: str, scope_sql: str) -> None:
        con = self.con
        con.execute(f"CREATE OR REPLACE TEMP TABLE b AS {batch_sql}")
        if not self._exists(table):
            con.execute(f"CREATE TABLE {table} AS SELECT * FROM b")
            return
        con.execute(f"CREATE OR REPLACE TEMP TABLE scope AS {scope_sql}")
        con.execute(f"""
            CREATE OR REPLACE TABLE {table} AS
            SELECT * FROM {table} t
            WHERE NOT EXISTS (SELECT 1 FROM scope s WHERE s.contact_id = t.contact_id)
            UNION ALL SELECT * FROM b
        """)

    def apply_batch(self, landing: str) -> None:
        con = self.con

        def landed(pattern: str) -> str | None:
            return os.path.join(landing, pattern) if glob.glob(os.path.join(landing, pattern)) else None

        if p := landed("forms.json"):
            con.execute(f"CREATE OR REPLACE TABLE t_qa_forms AS {_FORMS.format(p=p)}")
        all_contacts = landed("all_contacts_*.json")
        qa_contacts = landed("contacts_*.json")
        if all_contacts:
            self._insert_only("t_contacts", _CONTACTS.format(p=all_contacts))
        if qa_contacts:
            self._insert_only("t_qa_contacts", _CONTACTS.format(p=qa_contacts))

        if p := landed("fix_eval_raw.json"):
            con.execute(f"CREATE OR REPLACE TEMP TABLE b_scored AS {_SCORED.format(p=p)}")
            con.execute(f"CREATE OR REPLACE TEMP TABLE be AS {_EVALS}")
            if not self._exists("t_qa_evaluations"):
                con.execute("CREATE TABLE t_qa_evaluations AS SELECT * FROM be")
            else:
                con.execute("""
                    CREATE OR REPLACE TEMP TABLE survivors AS
                    SELECT * FROM t_qa_evaluations t WHERE NOT (
                        EXISTS (SELECT 1 FROM be WHERE be.contact_id = t.contact_id)
                        AND NOT EXISTS (SELECT 1 FROM be WHERE be.evaluation_id = t.evaluation_id))
                """)
                upd = ["form_id", "contact_id", "agent_id", "evaluator_id", "eval_type",
                       "response_state", "raw_score", "final_score"]
                cols = ", ".join(
                    f"CASE WHEN be.evaluation_id IS NULL THEN s.{c} ELSE be.{c} END AS {c}"
                    for c in upd)
                con.execute(f"""
                    CREATE OR REPLACE TABLE t_qa_evaluations AS
                    SELECT s.evaluation_id, {cols}, s.evaluated_date
                    FROM survivors s LEFT JOIN be ON s.evaluation_id = be.evaluation_id
                    UNION ALL BY NAME
                    SELECT * FROM be WHERE NOT EXISTS (
                        SELECT 1 FROM survivors s WHERE s.evaluation_id = be.evaluation_id)
                """)
            self._delete_insert(
                "t_qa_evaluation_scores", _SCORES,
                "SELECT DISTINCT contact_id FROM be",
            )

        scope = all_contacts or qa_contacts
        if (p := landed("fix_comments_raw.json")) and scope:
            self._delete_insert(
                "t_qa_evaluation_comments", _COMMENTS.format(p=p),
                f"SELECT DISTINCT id AS contact_id FROM read_json('{scope}', "
                "columns={'id': 'BIGINT'})",
            )

    def mismatches(self, warehouse: str) -> dict[str, int]:
        """Rows in exactly one of model and warehouse, per curated table."""
        out = {}
        for t in TABLES:
            files = os.path.join(warehouse, t, "**", "*.parquet")
            if not self._exists(t) or not glob.glob(files, recursive=True):
                out[t] = -1
                continue
            cols = [r[0] for r in self.con.execute(f"DESCRIBE {t}").fetchall()]
            sel = ", ".join(f'"{c}"' for c in cols)
            wh = f"SELECT {sel} FROM read_parquet('{files}', hive_partitioning = false)"
            n = self.con.execute(f"""
                SELECT (SELECT count(*) FROM (SELECT {sel} FROM {t} EXCEPT ALL {wh}))
                     + (SELECT count(*) FROM ({wh} EXCEPT ALL SELECT {sel} FROM {t}))
            """).fetchone()[0]
            out[t] = int(n)
        return out

    def row_counts(self) -> dict[str, int]:
        return {t: self.con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                for t in TABLES if self._exists(t)}
