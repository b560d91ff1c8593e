"""Output checks for one pipeline run, against a DuckDB oracle built from the
generator's ground truth.

The generator writes the cleaned (report, drug name, reaction, ChEMBL id)
rows the pipeline must derive (``truth_pairs.csv``), computed in plain
Python without Spark.  From them DuckDB computes the exact 2x2 contingency
counts and the log-likelihood ratio, and every run's written outputs are
compared against that:

- stage 1 (``agg_by_chembl``): the same (drug, reaction) rows, A/B/C/D
  equal, llr equal to 1e-9 relative to the size of its terms (the terms
  cancel, so a bound relative to llr alone would fail on rounding near 0),
  MedDRA codes equal to the generated ones when MedDRA is configured;
- significant pairs (``agg_critval_drug``): a subset of stage 1 with
  ``llr > critval > 0``, containing every planted signal;
- no blacklisted reaction and no unmapped drug name in any cleaned output;
- sampled outputs, when written: subset checks only, because
  ``stratified_sample_ids`` uses partition-dependent ``DataFrame.sample``.
  Every sampled clean row is a truth row, every truth row of a sampled
  ChEMBL id is present, and the sampled raw reports are exactly the
  sampled clean rows' reports.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import duckdb

LLR_RTOL = 1e-9


def _lit(path) -> str:
    """``path`` as a SQL string literal (views take no parameters)."""
    return "'" + str(path).replace("'", "''") + "'"


class Oracle:
    """Expected tables for one generated corpus; ``check`` compares a run's
    outputs against them and returns the list of failed checks."""

    def __init__(self, data_dir: Path, meddra: bool) -> None:
        meta = json.loads((data_dir / "meta.json").read_text())
        self.meddra = meddra
        self.planted = [tuple(p) for p in meta["planted"]]
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute(
            "CREATE TABLE truth AS SELECT * FROM read_csv(?, header = true, "
            "all_varchar = true)",
            [str(data_dir / "truth_pairs.csv")],
        )
        self.con.execute("CREATE TABLE blacklisted (term VARCHAR)")
        self.con.executemany(
            "INSERT INTO blacklisted VALUES (?)", [[t] for t in meta["blacklisted"]]
        )
        self.con.execute("CREATE TABLE mapped (name VARCHAR)")
        self.con.executemany(
            "INSERT INTO mapped VALUES (?)", [[n] for n in meta["synonyms"]]
        )
        self.con.execute("CREATE TABLE codes (term VARCHAR, code VARCHAR)")
        self.con.executemany(
            "INSERT INTO codes VALUES (?, ?)", list(meta["meddra_codes"].items())
        )
        # Spark's ln() is NULL at 0, so only C = 0 makes llr NULL (dropped);
        # B = 0 gives aterm = 0 and D = 0 leaves every logarithm defined.
        self.con.execute(
            """
            CREATE TABLE expected AS
            WITH p AS (SELECT DISTINCT safetyreportid r, chembl_id drug,
                              reaction reac FROM truth),
                 a AS (SELECT drug, reac, count(*) AS "A" FROM p GROUP BY drug, reac),
                 bd AS (SELECT drug, count(DISTINCT r) nd FROM p GROUP BY drug),
                 be AS (SELECT reac, count(DISTINCT r) ne FROM p GROUP BY reac),
                 n AS (SELECT count(DISTINCT r) big_n FROM p),
                 c AS (SELECT drug, reac, "A", ne - "A" AS "B", nd - "A" AS "C",
                              big_n - ne - nd + "A" AS "D"
                       FROM a JOIN bd USING (drug) JOIN be USING (reac), n)
            SELECT drug, reac, "A", "B", "C", "D",
                   "A" * (ln("A") - ln("A" + "B")) AS aterm,
                   "C" * (ln("C") - ln("C" + "D")) AS cterm,
                   ("A" + "C") * (ln("A" + "C") - ln("A" + "B" + "C" + "D"))
                       AS acterm
            FROM c WHERE "C" > 0
            """
        )

    def _q(self, sql: str, params: list | None = None) -> int:
        return self.con.execute(sql, params or []).fetchone()[0]

    def check(self, out: Path, sampling: bool) -> list[str]:
        """Compare the outputs under ``out``; return the failed checks."""
        failed: list[str] = []
        stage1 = str(out / "agg_by_chembl" / "parquet" / "*.parquet")
        sig = str(out / "agg_critval_drug" / "parquet" / "*.parquet")
        con = self.con
        con.execute(
            "CREATE OR REPLACE TEMP VIEW s1 AS SELECT chembl_id drug, "
            "reaction_reactionmeddrapt reac, \"A\", \"B\", \"C\", \"D\", llr, "
            f"\"meddraCode\" code FROM read_parquet({_lit(stage1)})"
        )
        con.execute(
            "CREATE OR REPLACE TEMP VIEW sig AS SELECT chembl_id drug, event reac, "
            f"count, llr, critval FROM read_parquet({_lit(sig)})"
        )
        n_exp = self._q("SELECT count(*) FROM expected")
        if self._q("SELECT count(*) FROM s1") != n_exp:
            failed.append("stage1 row count")
        if self._q("SELECT count(*) FROM (SELECT drug, reac FROM s1 GROUP BY drug, reac)") != n_exp:
            failed.append("stage1 duplicate pairs")
        bad_counts = self._q(
            'SELECT count(*) FROM expected x FULL JOIN s1 USING (drug, reac) WHERE '
            'x."A" IS DISTINCT FROM s1."A" OR x."B" IS DISTINCT FROM s1."B" '
            'OR x."C" IS DISTINCT FROM s1."C" OR x."D" IS DISTINCT FROM s1."D"'
        )
        if bad_counts:
            failed.append(f"stage1 A/B/C/D differ on {bad_counts} pairs")
        bad_llr = self._q(
            "SELECT count(*) FROM expected x JOIN s1 USING (drug, reac) WHERE "
            "abs(s1.llr - (aterm + cterm - acterm)) > ? * greatest(abs(aterm) "
            "+ abs(cterm) + abs(acterm), 1e-300)",
            [LLR_RTOL],
        )
        if bad_llr:
            failed.append(f"stage1 llr differs on {bad_llr} pairs")
        if self.meddra:
            bad_codes = self._q(
                "SELECT count(*) FROM s1 LEFT JOIN codes ON s1.reac = codes.term "
                "WHERE s1.code IS DISTINCT FROM codes.code"
            )
            if bad_codes:
                failed.append(f"meddraCode differs on {bad_codes} pairs")
        bad_sig = self._q(
            "SELECT count(*) FROM sig LEFT JOIN s1 USING (drug, reac) WHERE "
            "s1.llr IS NULL OR sig.count <> s1.\"A\" OR sig.llr <> s1.llr "
            "OR NOT (sig.llr > sig.critval AND sig.critval > 0)"
        )
        if bad_sig:
            failed.append(f"{bad_sig} significant rows not backed by stage 1")
        for d, e in self.planted:
            if not self._q("SELECT count(*) FROM sig WHERE drug = ? AND reac = ?", [d, e]):
                failed.append(f"planted signal {d} -> {e} not significant")
        for view in ("s1", "sig"):
            if self._q(f"SELECT count(*) FROM {view} WHERE reac IN "
                       "(SELECT term FROM blacklisted)"):
                failed.append(f"blacklisted reaction in {view}")
        if sampling:
            failed += self._check_sampled(out)
        return failed

    def _check_sampled(self, out: Path) -> list[str]:
        failed = []
        self.con.execute(
            "CREATE OR REPLACE TEMP VIEW sc AS SELECT safetyreportid r, "
            "drug_name n, reaction_reactionmeddrapt reac, chembl_id drug FROM "
            f"read_parquet({_lit(out / 'sampled_clean' / 'parquet' / '*.parquet')})"
        )
        self.con.execute(
            "CREATE OR REPLACE TEMP VIEW sr AS SELECT safetyreportid r FROM "
            f"read_parquet({_lit(out / 'sampled_raw_reports' / 'parquet' / '*.parquet')})"
        )
        if not self._q("SELECT count(*) FROM sc"):
            failed.append("sampled_clean is empty")
        if self._q(
            "SELECT count(*) FROM (SELECT r, n, reac, drug FROM sc EXCEPT SELECT "
            "safetyreportid, drug_name, reaction, chembl_id FROM truth)"
        ):
            failed.append("sampled_clean holds rows outside the truth")
        if self._q(
            "SELECT count(*) FROM (SELECT safetyreportid, drug_name, reaction, "
            "chembl_id FROM truth WHERE chembl_id IN (SELECT drug FROM sc) "
            "EXCEPT SELECT r, n, reac, drug FROM sc)"
        ):
            failed.append("sampled_clean misses rows of a sampled ChEMBL id")
        if self._q("SELECT count(*) FROM sc WHERE n NOT IN (SELECT name FROM mapped)"):
            failed.append("unmapped drug name in sampled_clean")
        if self._q("SELECT count(*) FROM sc WHERE reac IN (SELECT term FROM blacklisted)"):
            failed.append("blacklisted reaction in sampled_clean")
        if self._q(
            "SELECT count(*) FROM ((SELECT DISTINCT r FROM sr EXCEPT SELECT "
            "DISTINCT r FROM sc) UNION ALL (SELECT DISTINCT r FROM sc EXCEPT "
            "SELECT DISTINCT r FROM sr))"
        ) or self._q("SELECT count(*) - count(DISTINCT r) FROM sr"):
            failed.append("sampled raw reports differ from sampled clean reports")
        return failed

    def digest(self, out: Path) -> str:
        """SHA-256 over the sorted significant pairs written under ``out``,
        with doubles compared bit for bit."""
        rows = self.con.execute(
            "SELECT chembl_id, event, count, llr, critval FROM read_parquet(?) "
            "ORDER BY chembl_id, event",
            [str(out / "agg_critval_drug" / "parquet" / "*.parquet")],
        ).fetchall()
        h = hashlib.sha256()
        for d, e, n, llr, cv in rows:
            h.update(f"{d}\x1f{e}\x1f{n}\x1f{llr.hex()}\x1f{cv.hex()}\n".encode())
        return h.hexdigest()
