"""``warehouse_rw``: producer writes beside policy-mediated consumer
reads on the seeded healthcare lake.

One cycle, in a fixed order with seeded keys, rows and parameters:

- producer DML through ``FgacEngine.sql`` (the SQL frontend):
  INSERT of new patients (partition fan-out over cities), UPDATE and
  DELETE over claim key ranges, and a MERGE upsert into claims;
- ``session_for("team1")``, a team1 INSERT through
  ``SecureSession.sql`` (write authorization), then team1's reads: the
  row/column-filtered ``SELECT *``, the flagship join with ``ORDER BY
  state, claim_date``, the join aggregate ``GROUP BY state``, a
  partition-pruned ``WHERE city = ?`` read and a point read through the
  3-part resource link;
- ``session_for("team2")``, team2's claims read and team2's ``SELECT *
  FROM patients``, which must raise ``AccessDeniedException``.

Every ``MAINTENANCE_EVERY``-th cycle ends with ``rewrite_data_files`` and
``expire_snapshots`` on claims and one team1 ``availableNow`` streaming
append through ``SecureSession.writeStream_into``. Patients are never
compacted, so their small files pile up cycle after cycle and the reads
of later cycles run on a lake with more files.

UPDATE, DELETE and MERGE target ``claims``. On ``patients`` they fail
today whenever a touched partition value contains a space (the
reference's city names do): the engine's copy-on-write commit compares
percent-encoded file paths with decoded ones and reports a conflict.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import lake, layers, model

N_PATIENTS = 2_500
N_CLAIMS = 25_000
NEW_PATIENTS = 50  # producer INSERT rows per cycle
UPDATE_PATIENTS = 50  # UPDATE key range, in patient ids
DELETE_CLAIMS = 200  # DELETE key range, in claim ids
MERGE_ROWS = 10  # matched and as many unmatched
TEAM1_ROWS = 20
STREAM_ROWS = 30
STREAM_SOURCE = "perfbench-stream"
MAINTENANCE_EVERY = 2  # cycles
CYCLE_OPS = 14  # operations of a cycle without maintenance
MAINTENANCE_OPS = 3
JOIN_AGG = (
    "SELECT p.state, count(*) AS claims, sum(c.amount) AS total "
    "FROM claims c JOIN patients p ON c.patient_id = p.patient_id GROUP BY p.state"
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class WarehouseRW:
    # a window is at least MAINTENANCE_EVERY cycles and ends with the
    # maintenance that closes them
    min_ops = MAINTENANCE_EVERY * CYCLE_OPS + MAINTENANCE_OPS
    # the warm-up runs on the first landed lake, so the later landings
    # find the JVM warm; the window runs on the last one
    warm_first = True

    def __init__(self, run) -> None:
        from sample_emr_on_eks_fgac_iceberg_spark.policy import AccessDeniedException

        self.run = run
        self.denied = AccessDeniedException
        self.engine = None
        self.dir = self.root = None
        self.patients = self.claims = None  # model frames
        self.rng = None
        self.next_patient = self.next_claim = 0
        self.stream_files = 0
        self.stream = None
        self.disk: dict = {"data_written": [], "metadata_written": []}
        self.sessions: dict = {}  # each principal's current job session

    # ------------------------------------------------------------- set-up
    def setup_data(self, rep: int) -> None:
        """A freshly landed lake: the same seed lands the same rows and
        restarts the same sequence of statements."""
        from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine
        from sample_emr_on_eks_fgac_iceberg_spark.policy import DESCRIBE, INSERT, SELECT

        if self.dir is not None:
            shutil.rmtree(self.dir)
        self.dir = self.run.path(f"lake-{rep}")
        self.root = os.path.join(self.dir, "lake")
        patients, claims = lake.generate(self.run.seed, N_PATIENTS, N_CLAIMS)
        self.engine = FgacEngine(self.run.spark, self.root)
        lake.land(self.engine, os.path.join(self.dir, "stage"), patients, claims)
        self.engine.policy.grant("team1", "claims", {SELECT, DESCRIBE, INSERT})
        golden_patients, golden_claims = lake.fixture_tables()
        self.patients = pd.concat([model.from_arrow(golden_patients), model.from_arrow(patients)],
                                  ignore_index=True)
        self.claims = pd.concat([model.from_arrow(golden_claims), model.from_arrow(claims)],
                                ignore_index=True)
        self.rng = np.random.default_rng([self.run.seed, 2])
        self.next_patient = lake.PATIENT_ID_BASE + N_PATIENTS
        self.next_claim = 1
        self.stream_files = 0
        self.sessions = {}
        os.makedirs(os.path.join(self.dir, "stream-in"))
        self.stream = self.run.spark.readStream.schema(lake.CLAIMS_SCHEMA).parquet(
            os.path.join(self.dir, "stream-in"))

    def reset(self) -> None:
        """Land the lake afresh, so the next ``steps()`` repeat the same
        statements on the same rows."""
        from perfbench.harness import SETUP_REPS

        self.setup_data(SETUP_REPS)

    def warmup(self) -> None:
        """One cycle with maintenance on the current lake: JIT
        compilation, the Python workers and each statement's first-run
        set-up are paid outside the timed window. The measured lake is
        landed afterwards. Its operations still count as attempted."""
        for step in self._cycle(maintain=True):
            step()

    # -------------------------------------------------------------- cycle
    def steps(self):
        cycle = 0
        while True:
            cycle += 1
            yield from self._cycle(maintain=cycle % MAINTENANCE_EVERY == 0)

    def _cycle(self, maintain: bool):
        """One cycle in a fixed order (the first statement of a fresh
        session pays its set-up, so the order is kept stable); the seed
        sets keys, rows and read parameters. The last step also samples
        the lake's files."""
        yield self._insert_patients
        yield self._update_claims
        yield self._delete_claims
        yield self._merge_claims
        yield lambda: self._session("team1")
        for f in (self._team1_insert, self._scan_filtered, self._join_order, self._join_agg,
                  self._city_pruned, self._point_link):
            yield lambda f=f: f(self.sessions["team1"])
        yield lambda: self._session("team2")
        yield lambda: self._team2_claims(self.sessions["team2"])
        tail = [lambda: self._team2_denied(self.sessions["team2"])]
        if maintain:
            tail += [self._compact, self._expire,
                     lambda: self._stream_append(self.sessions["team1"])]
        yield from tail[:-1]
        yield lambda: (tail[-1](), self._sample_disk())

    def _session(self, principal: str) -> None:
        """A job's session; None when ``session_for`` failed, so the
        job's statements fail and count too."""
        self.sessions[principal] = self.run.op(
            f"session_for.{principal}", "other",
            build=lambda: self.engine.session_for(principal))

    def _commit(self, kind: str, build, on_success=None) -> None:
        """A timed write; in traced windows also the bytes of the files
        it created or rewrote."""
        traced = self.run.tracer is not None
        before = layers.disk_files(self.root) if traced else None
        ok = self.run.op(kind, "write", build=lambda: build() or True)
        if traced:
            written = layers.bytes_written(before, layers.disk_files(self.root), self.root)
            self.disk["data_written"].append(written["data"])
            self.disk["metadata_written"].append(written["metadata"])
        if ok is not None and on_success is not None:
            on_success()

    def _write(self, kind: str, sql: str, on_success, via=None) -> None:
        self._commit(kind, lambda: (via or self.engine).sql(sql), on_success)

    def _sample_disk(self) -> None:
        """After each traced cycle: live files, snapshots and metadata
        bytes of both tables, from the snapshot log and the disk."""
        if self.run.tracer is None:
            return
        wh = self.engine.warehouse
        live_files = snapshots = 0
        for table in ("patients", "claims"):
            snaps = wh.snapshots(table)
            live: set = set()
            for s in snaps:
                if not s.get("staged"):
                    live = (live | set(s["added_files"])) - set(s.get("removed_files", ()))
            live_files += len(live)
            snapshots += len(snaps)
        self.disk.update(files_live=live_files, snapshots=snapshots,
                         metadata_bytes=layers.disk_usage(self.root)["metadata"])

    def _insert_patients(self) -> None:
        ids = self.next_patient + np.arange(NEW_PATIENTS, dtype=np.int64)
        self.next_patient += NEW_PATIENTS
        rows = model.from_arrow(lake.patients_table(self.rng, ids))
        sql = f"INSERT INTO patients VALUES {model.values_sql(rows, lake.PATIENTS_SCHEMA)}"
        self._write("insert", sql, lambda: self._append("patients", rows))

    def _update_claims(self) -> None:
        lo = int(self.rng.integers(lake.PATIENT_ID_BASE, lake.PATIENT_ID_BASE + N_PATIENTS))
        hi = lo + UPDATE_PATIENTS - 1
        sql = f"UPDATE claims SET amount = amount + 1.00 WHERE patient_id BETWEEN {lo} AND {hi}"

        def apply():
            m = self.claims["patient_id"].between(lo, hi)
            self.claims.loc[m, "amount"] += 100
        self._write("update", sql, apply)

    def _delete_claims(self) -> None:
        lo = int(self.rng.integers(1, N_CLAIMS - DELETE_CLAIMS))
        lo_id, hi_id = f"CLM{lo:08d}", f"CLM{lo + DELETE_CLAIMS:08d}"
        sql = f"DELETE FROM claims WHERE claim_id >= '{lo_id}' AND claim_id < '{hi_id}'"

        def apply():
            ids = self.claims["claim_id"]
            self.claims = self.claims[~((ids >= lo_id) & (ids < hi_id))].reset_index(drop=True)
        self._write("delete", sql, apply)

    def _new_claims(self, prefix: str, n: int) -> pd.DataFrame:
        nos = self.next_claim + np.arange(n, dtype=np.int64)
        self.next_claim += n
        return model.from_arrow(lake.claims_table(
            self.rng, prefix, nos, self.patients["patient_id"].to_numpy()))

    def _merge_claims(self) -> None:
        pick = self.rng.choice(len(self.claims), MERGE_ROWS, replace=False)
        matched = self.claims.iloc[pick].copy()
        fresh = self._new_claims("CLN", MERGE_ROWS)
        matched["amount"] = fresh["amount"].to_numpy()
        matched["status"] = fresh["status"].to_numpy()
        matched["updated_at"] = fresh["updated_at"].to_numpy()
        source = pd.concat([matched, fresh], ignore_index=True)
        sql = (
            f"MERGE INTO claims t USING ({model.select_sql(source, lake.CLAIMS_SCHEMA)}) s "
            "ON t.claim_id = s.claim_id "
            "WHEN MATCHED THEN UPDATE SET amount = s.amount, status = s.status, "
            "updated_at = s.updated_at WHEN NOT MATCHED THEN INSERT *"
        )

        def apply():
            keep = ~self.claims["claim_id"].isin(matched["claim_id"])
            self.claims = pd.concat([self.claims[keep], source], ignore_index=True)
        self._write("merge", sql, apply)

    def _team1_insert(self, sess) -> None:
        rows = self._new_claims("CLT", TEAM1_ROWS)
        sql = f"INSERT INTO claims VALUES {model.values_sql(rows, lake.CLAIMS_SCHEMA)}"
        self._write("team1_insert", sql, lambda: self._append("claims", rows), via=sess)

    def _append(self, table: str, rows: pd.DataFrame) -> None:
        setattr(self, table, pd.concat([getattr(self, table), rows], ignore_index=True))

    def _read(self, kind: str, sess, sql: str, expect=None) -> None:
        self.run.op(kind, "read", build=lambda: sess.sql(sql),
                    execute=None if expect else _noop, expect=expect)

    def _scan_filtered(self, sess) -> None:
        self._read("scan_filtered", sess, "SELECT * FROM patients")

    def _join_order(self, sess) -> None:
        self._read("join_order", sess, lake.FLAGSHIP_JOIN_SQL)

    def _join_agg(self, sess) -> None:
        self._read("join_agg", sess, JOIN_AGG)

    def _city_pruned(self, sess) -> None:
        city = self.rng.choice(self.patients["city"].unique())
        self._read("city_pruned", sess, f"SELECT * FROM patients WHERE city = '{city}'")

    def _point_link(self, sess) -> None:
        pid = int(self.rng.choice(self.patients["patient_id"].to_numpy()))
        self._read("point_link", sess,
                   f"SELECT * FROM {lake.QUALIFIED_RL_PATIENTS} WHERE patient_id = {pid}")

    def _team2_claims(self, sess) -> None:
        self._read("team2_claims", sess, "SELECT * FROM claims")

    def _team2_denied(self, sess) -> None:
        self._read("team2_denied", sess, "SELECT * FROM patients", expect=self.denied)

    def _compact(self) -> None:
        self._commit("compact", lambda: self.engine.sql(
            "CALL system.rewrite_data_files(table => 'claims')").collect())

    def _expire(self) -> None:
        self._commit("expire", lambda: self.engine.sql(
            "CALL system.expire_snapshots(table => 'claims', retain_last => 3)").collect())

    def _stream_append(self, sess) -> None:
        rows = self._new_claims("CLS", STREAM_ROWS)
        self.stream_files += 1
        batch = os.path.join(self.dir, "stream-in", f"batch-{self.stream_files:05d}.parquet")
        pq.write_table(model.to_arrow(rows, lake.CLAIMS_SCHEMA), batch)
        self._commit("stream_append", lambda: sess.writeStream_into(
            self.stream, "claims", STREAM_SOURCE, os.path.join(self.dir, "stream-checkpoint")),
            lambda: self._append("claims", rows))

    # ------------------------------------------------------------- checks
    def verify(self) -> None:
        from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse

        run = self.run
        fresh = Warehouse(run.spark, self.root)
        for table, ddl, key in (("patients", lake.PATIENTS_SCHEMA, "patient_id"),
                                ("claims", lake.CLAIMS_SCHEMA, "claim_id")):
            exp = getattr(self, table)
            for label, wh in (("engine", self.engine.warehouse), ("fresh", fresh)):
                got = wh.read_table(table).selectExpr(*model.canonical_exprs(ddl)).toPandas()
                d = model.diff(got, exp, key)
                run.check(f"{table} contents ({label} Warehouse)", d is None, d or "")
        self._verify_consumer()
        run.report["bytes_per_user_byte"] = self.bytes_per_user_byte()

    def _verify_consumer(self) -> None:
        run = self.run
        p, c = self.patients, self.claims
        filt = p[p["state"].isin(lake.FILTERED_STATES)]
        # the window's latest sessions: a session re-resolves tables
        # when the warehouse's state changes, so they see the final rows
        s1 = self.sessions.get("team1") or self.engine.session_for("team1")

        df = s1.sql("SELECT * FROM patients")
        run.check("team1 columns", list(df.columns) == list(lake.PATIENT_ALLOWED_COLUMNS),
                  str(df.columns))
        got = {r["state"]: r["n"] for r in s1.sql(
            "SELECT state, count(*) AS n FROM patients GROUP BY state").collect()}
        exp = filt.groupby("state").size().to_dict()
        run.check("team1 filtered rows per state", got == exp, f"{got} != {exp}")

        joined = c.merge(filt[["patient_id", "state"]], on="patient_id")
        order = s1.sql(lake.FLAGSHIP_JOIN_SQL).select("state", "claim_date").toPandas()
        keys = list(zip(order["state"], order["claim_date"]))
        run.check("flagship join rows", len(order) == len(joined), f"{len(order)} != {len(joined)}")
        run.check("flagship join order", keys == sorted(keys), "not ordered by state, claim_date")

        agg = {r["state"]: (r["claims"], int(round(float(r["total"]) * 100)))
               for r in s1.sql(JOIN_AGG).collect()}
        exp_agg = {s: (len(g), int(g["amount"].sum())) for s, g in joined.groupby("state")}
        run.check("team1 join aggregate", agg == exp_agg, f"{agg} != {exp_agg}")

        inside = sorted(filt["city"].unique())[0]
        outside = sorted(set(p["city"]) - set(filt["city"]))[0]
        for city in (inside, outside):
            n = s1.sql(f"SELECT * FROM patients WHERE city = '{city}'").count()
            run.check(f"city {city}", n == int((filt["city"] == city).sum()), str(n))
        pid = int(filt["patient_id"].iloc[0])
        rows = s1.sql(f"SELECT * FROM {lake.QUALIFIED_RL_PATIENTS} "
                      f"WHERE patient_id = {pid}").collect()
        run.check("point read through link", len(rows) == 1 and rows[0]["patient_id"] == pid,
                  str(rows))

        s2 = self.sessions.get("team2") or self.engine.session_for("team2")
        got2 = s2.sql("SELECT count(*) AS n, sum(amount) AS t FROM claims").first()
        run.check("team2 claims", (got2["n"], int(round(float(got2["t"]) * 100)))
                  == (len(c), int(c["amount"].sum())), str(got2))

    def bytes_per_user_byte(self) -> float:
        on_disk = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(self.root) for f in fs)
        user = (model.to_arrow(self.patients, lake.PATIENTS_SCHEMA).nbytes
                + model.to_arrow(self.claims, lake.CLAIMS_SCHEMA).nbytes)
        return on_disk / user
