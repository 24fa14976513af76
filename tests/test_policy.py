"""Golden FGAC tests — the reference's three E2E scenarios (SURVEY.md §5,
FIXTURES.md §A.4) against engine-managed tables."""

import pytest

from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine
from sample_emr_on_eks_fgac_iceberg_spark.healthcare import (
    FLAGSHIP_JOIN_SQL,
    TEAM1,
    TEAM2,
    setup_healthcare,
)
from sample_emr_on_eks_fgac_iceberg_spark import policy as policy_mod
from sample_emr_on_eks_fgac_iceberg_spark.policy import (
    ALTER,
    DELETE,
    DESCRIBE,
    DROP,
    INSERT,
    SELECT,
    AccessDeniedException,
    parse_statement,
)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    eng = FgacEngine(spark, str(tmp_path_factory.mktemp("warehouse")))
    setup_healthcare(eng)
    return eng


def test_team1_filtered_patients_scan(engine):
    # consumer_emr_on_eks_setup.sh:407-410 → 8 rows × 8 cols, no ssn
    sess = engine.session_for(TEAM1)
    df = sess.sql("SELECT * FROM patients")
    rows = df.collect()
    assert len(rows) == 8
    assert "ssn" not in df.columns
    assert len(df.columns) == 8
    assert {r.state for r in rows} == {"Texas", "New York"}
    assert {r.patient_id for r in rows} == set(range(1005, 1013))


def test_team1_flagship_join(engine):
    # consumer_emr_on_eks_setup.sh:412-414 → 6 rows CLM005-CLM010,
    # ordered by (state, claim_date)
    sess = engine.session_for(TEAM1)
    rows = sess.sql(FLAGSHIP_JOIN_SQL).collect()
    assert [r.claim_id for r in rows] == [
        "CLM010", "CLM009", "CLM007", "CLM008", "CLM005", "CLM006",
    ]
    assert [r.state for r in rows] == ["New York"] * 2 + ["Texas"] * 4
    assert rows[0].patient_name == "fgac10 Amanda"
    assert float(rows[0].amount) == 180.00


def test_team2_claims_full_scan(engine):
    # consumer_emr_on_eks_setup.sh:478-479 → all 10 rows, 10 cols
    sess = engine.session_for(TEAM2)
    df = sess.sql("SELECT * FROM claims")
    assert df.count() == 10
    assert len(df.columns) == 10


def test_team2_patients_denied(engine):
    # consumer_emr_on_eks_setup.sh:480-488 → AccessDeniedException at
    # plan time, message contains the literal substring the reference
    # job greps for.
    sess = engine.session_for(TEAM2)
    with pytest.raises(AccessDeniedException) as exc:
        sess.sql("SELECT * FROM patients")
    assert "AccessDeniedException" in str(exc.value)
    with pytest.raises(AccessDeniedException):
        sess.table("patients")


def test_describe_hides_masked_column(engine):
    sess = engine.session_for(TEAM1)
    cols = [c for c, _ in sess.describe("patients")]
    assert "ssn" not in cols and "state" in cols


def test_revoke_then_denied(engine):
    engine.policy.grant("temp_analyst", "claims")
    sess = engine.session_for("temp_analyst")
    assert sess.table("claims").count() == 10
    engine.policy.revoke("temp_analyst", "claims")
    sess2 = engine.session_for("temp_analyst")
    with pytest.raises(AccessDeniedException):
        sess2.table("claims")


def test_row_filter_pushed_to_scan(engine):
    """The injected row filter must reach the parquet scan (the FGAC
    threat model: unfiltered rows never surface). Check PushedFilters
    in the physical plan."""
    from sample_emr_on_eks_fgac_iceberg_spark.plans import pushed_filters

    sess = engine.session_for(TEAM1)
    filters = pushed_filters(sess.sql("SELECT patient_id FROM patients"))
    assert any("state" in f for f in filters)  # In(state, …) reached the scan


def test_partition_layout_identity(engine, spark):
    import os

    data = engine.warehouse.data_dir("patients")
    parts = {d for d in os.listdir(data) if d.startswith("city=")}
    assert "city=Dallas" in parts and len(parts) == 12
    claims_parts = {d for d in os.listdir(engine.warehouse.data_dir("claims"))
                    if d.startswith("status=")}
    assert claims_parts == {"status=Approved", "status=Pending", "status=Denied"}


def test_resource_link_scan_filtered(engine):
    """M2: the consumer-side resource link resolves to the producer
    table with the link-bound FGAC filter applied — the reference's
    actual query shape (SELECT * FROM dev.….rl_patients,
    consumer_emr_on_eks_setup.sh:407)."""
    sess = engine.session_for("team1")
    df = sess.sql("SELECT * FROM rl_patients")
    assert df.count() == 8
    assert "ssn" not in df.columns


def test_resource_link_join_matches_direct(engine):
    sess = engine.session_for("team1")
    via_link = sess.sql(
        """SELECT c.claim_id FROM rl_claims c
           JOIN rl_patients p ON c.patient_id = p.patient_id
           ORDER BY c.claim_id"""
    ).collect()
    direct = sess.sql(
        """SELECT c.claim_id FROM claims c
           JOIN patients p ON c.patient_id = p.patient_id
           ORDER BY c.claim_id"""
    ).collect()
    assert via_link == direct and len(via_link) == 6


def test_resource_link_denied_for_team2(engine):
    import pytest as _pytest

    from sample_emr_on_eks_fgac_iceberg_spark.policy import AccessDeniedException

    sess = engine.session_for("team2")
    with _pytest.raises(AccessDeniedException, match="AccessDeniedException"):
        sess.sql("SELECT * FROM rl_patients").count()


def test_drop_table_removes_data_and_meta(engine, spark, tmp_path):
    """M1: DROP TABLE removes files + metadata; re-create works."""
    from pyspark.sql import types as T

    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import (
        TableNotFoundError,
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("t_tmp", "a int, b string", partition_by=["b"])
    wh.insert_values("t_tmp", [(1, "x"), (2, "y")])
    assert wh.read_table("t_tmp").count() == 2
    wh.drop_table("t_tmp")
    assert not wh.table_exists("t_tmp")
    try:
        wh.read_table("t_tmp")
        raise AssertionError("expected TableNotFoundError")
    except TableNotFoundError:
        pass
    wh.create_table("t_tmp", "a int", partition_by=[])
    assert wh.read_table("t_tmp").count() == 0


# ---------------------------------------------------------------------------
# Single-parse dispatch: SecureSession.sql decides every statement from one
# policy.parse_statement record.


@pytest.fixture(scope="module")
def dispatch_engine(spark, tmp_path_factory):
    """Healthcare lake plus a scratch table nobody is granted yet."""
    eng = FgacEngine(spark, str(tmp_path_factory.mktemp("dispatch")))
    setup_healthcare(eng)
    eng.sql("CREATE TABLE scratch (x STRING)")
    return eng


def _recording(sess):
    """Swap the trusted write delegate for a recorder: dispatch is what
    is under test, not the frontend's execution of the statement."""
    calls = []
    sess._dml_executor = calls.append
    return calls


WRITE_DISPATCH = [
    ("INSERT INTO scratch VALUES ('x')", "InsertIntoStatement", {INSERT}),
    (
        "INSERT OVERWRITE scratch SELECT x FROM scratch",
        "InsertIntoStatement",
        {INSERT, DELETE},
    ),
    (
        "WITH c AS (SELECT 'y' AS x) INSERT INTO scratch SELECT * FROM c",
        "InsertIntoStatement",
        {INSERT},
    ),
    ("DELETE FROM scratch WHERE x = 'x'", "DeleteFromTable", {DELETE}),
    ("TRUNCATE TABLE scratch", "TruncateTable", {DELETE}),
    ("UPDATE scratch SET x = 'z'", "UpdateTable", {INSERT, DELETE}),
    (
        "MERGE INTO scratch t USING (SELECT 'q' AS x) s ON t.x = s.x "
        "WHEN NOT MATCHED THEN INSERT *",
        "MergeIntoTable",
        {INSERT, DELETE},
    ),
    ("ALTER TABLE scratch ADD COLUMNS (y INT)", "AddColumns", {ALTER}),
    ("ALTER TABLE scratch RENAME COLUMN x TO w", "RenameColumn", {ALTER}),
    ("ALTER TABLE scratch SET TBLPROPERTIES ('k'='v')", "SetTableProperties", {ALTER}),
    ("ANALYZE TABLE scratch COMPUTE STATISTICS", "AnalyzeTable", {ALTER}),
    ("DROP TABLE scratch", "DropTable", {DROP}),
]


@pytest.mark.parametrize("stmt,plan_class,perms", WRITE_DISPATCH)
def test_write_dispatch_by_plan_class(dispatch_engine, spark, stmt, plan_class, perms):
    parsed = parse_statement(spark, stmt)
    assert (parsed.plan_class, parsed.target, parsed.is_query) == (
        plan_class, "scratch", False,
    )
    policy = dispatch_engine.policy
    try:
        # each required permission, withheld alone, denies
        for missing in perms:
            policy.grant("w", "scratch", {SELECT} | (perms - {missing}))
            sess = dispatch_engine.session_for("w")
            calls = _recording(sess)
            with pytest.raises(AccessDeniedException, match=missing):
                sess.sql(stmt)
            assert calls == []
        # all of them delegates the statement, once, verbatim
        policy.grant("w", "scratch", {SELECT} | perms)
        sess = dispatch_engine.session_for("w")
        calls = _recording(sess)
        sess.sql(stmt)
        assert calls == [stmt]
    finally:
        policy.revoke("w", "scratch")


@pytest.mark.parametrize(
    "stmt,plan_class,target,is_query",
    [
        ("SELECT * FROM patients", "Project", None, True),
        ("WITH c AS (SELECT 1) SELECT * FROM c", "Project", None, True),
        ("TABLE claims", "UnresolvedRelation", None, True),
        ("CREATE TABLE db.fresh (k INT)", "CreateTable", "db.fresh", False),
        ("CREATE OR REPLACE TABLE fresh AS SELECT 1 AS k", "ReplaceTableAsSelect", "fresh", False),
        ("CREATE VIEW v AS SELECT * FROM claims", "CreateView", "v", False),
        ("DROP VIEW IF EXISTS v", "DropView", "v", False),
        ("SHOW TABLES IN analytics", "ShowTables", "analytics", False),
        ("DESCRIBE DATABASE analytics", "DescribeNamespace", "analytics", False),
        ("DESCRIBE patients", "DescribeRelation", "patients", False),
        ("CALL system.expire_snapshots(table => 'claims')", "Call", None, False),
        ("FROM claims INSERT INTO scratch SELECT claim_id", "InsertIntoStatement", "scratch", False),
        ("SELECT TRANSFORM(x) USING 'cat' FROM scratch", "ScriptTransformation", None, False),
        # SQL scripts: the statements inside never make the script a query
        ("BEGIN SET spark.sql.runSQLOnFiles=true; END", "CompoundBody", None, False),
        ("BEGIN SELECT 1; END", "CompoundBody", None, False),
        # IDENTIFIER(…) on top builds the statement, not a relation
        ("INSERT INTO IDENTIFIER('scratch') SELECT 'x'", "PlanWithUnresolvedIdentifier", None, False),
        (
            "EXPLAIN WITH c AS (SELECT 1 x) INSERT INTO t SELECT * FROM IDENTIFIER('c')",
            "InsertIntoStatement", "t", False,
        ),
    ],
)
def test_parse_statement_record(spark, stmt, plan_class, target, is_query):
    parsed = parse_statement(spark, stmt)
    assert parsed.plan_class == plan_class
    assert parsed.is_query is is_query
    if target is not None:
        assert parsed.target == target


def test_parse_statement_relation_set(spark):
    """Relations come from subqueries, CTE bodies and MERGE sources;
    CTE names are reported separately, EXPLAIN is unwrapped."""
    parsed = parse_statement(
        spark,
        "EXPLAIN EXTENDED WITH c AS (SELECT * FROM a WHERE k IN (SELECT k FROM b)) "
        "SELECT * FROM c JOIN dev.db.t ON c.k = t.k",
    )
    assert parsed.explain == "extended" and parsed.is_query
    assert set(parsed.relations) == {("a",), ("b",), ("c",), ("dev", "db", "t")}
    assert parsed.cte_names == {"c"}
    # a relation named by an expression cannot be authorized statically
    parsed = parse_statement(spark, "SELECT * FROM IDENTIFIER('patients')")
    assert parsed.is_query and not parsed.relations_complete
    assert parse_statement(spark, "OPTIMIZE claims") is None


def test_parse_statement_walk_bound_fails_closed(spark, monkeypatch):
    """A plan the walk does not finish is neither a query nor a
    complete relation set; its top class is still reported."""
    monkeypatch.setattr(policy_mod, "_MAX_PLAN_NODES", 3)
    parsed = parse_statement(spark, "SELECT * FROM a JOIN b JOIN c JOIN d")
    assert parsed.plan_class == "Project"
    assert not parsed.is_query and not parsed.relations_complete


@pytest.mark.parametrize(
    "stmt,flags",
    [
        ("INSERT OVERWRITE scratch SELECT 'x'", {"overwrite": True}),
        ("INSERT INTO scratch SELECT 'x'", {"overwrite": False}),
        ("DROP VIEW IF EXISTS v", {"if_exists": True}),
        ("SHOW TABLES IN analytics LIKE 'p*'", {"pattern": True}),
        ("CREATE OR REPLACE VIEW v AS SELECT x FROM scratch", {"replace": True}),
        ("CREATE VIEW v AS SELECT 1", {"replace": False}),
    ],
)
def test_parse_statement_clause_flags(spark, stmt, flags):
    parsed = parse_statement(spark, stmt)
    assert {k: getattr(parsed, k) for k in flags} == flags


def test_parse_statement_once_per_sql_call(dispatch_engine, monkeypatch):
    calls = []

    def counting(spark, text):
        calls.append(text)
        return parse_statement(spark, text)

    monkeypatch.setattr(policy_mod, "parse_statement", counting)
    dispatch_engine.policy.grant("once", "scratch", {SELECT, DESCRIBE, INSERT})
    sess = dispatch_engine.session_for("once")
    _recording(sess)
    for stmt in (
        "SELECT * FROM scratch",
        "EXPLAIN SELECT * FROM scratch",
        "INSERT INTO scratch VALUES ('a')",
        "DESCRIBE scratch",
        "SELECT * FROM scratch QUALIFY row_number() OVER (ORDER BY x) = 1",
    ):
        before = len(calls)
        sess.sql(stmt)
        assert len(calls) == before + 1, stmt
    dispatch_engine.policy.revoke("once", "scratch")


@pytest.mark.parametrize(
    "stmt,error",
    [
        ("SELEC * FROM claims", ValueError),
        ("FROB claims", ValueError),
        ("SET spark.sql.runSQLOnFiles=true", AccessDeniedException),
        ("CREATE TEMPORARY VIEW tv AS SELECT * FROM claims", AccessDeniedException),
        ("EXECUTE IMMEDIATE 'SELECT 1'", AccessDeniedException),
        ("SELECT TRANSFORM(claim_id) USING 'cat' FROM claims", AccessDeniedException),
        ("BEGIN SET spark.sql.runSQLOnFiles=true; END", AccessDeniedException),
        (
            "BEGIN EXECUTE IMMEDIATE 'SET spark.sql.runSQLOnFiles=true'; SELECT 1; END",
            AccessDeniedException,
        ),
        ("SELECT * FROM IDENTIFIER('claims')", ValueError),
        ("CREATE VIEW cv (a) AS SELECT claim_id FROM claims", ValueError),
        ("DROP TABLE IDENTIFIER('claims')", ValueError),
    ],
)
def test_unsupported_statements_refused_without_executing(
    dispatch_engine, monkeypatch, stmt, error
):
    """Neither Spark SQL the consumer surface supports nor the residual
    grammar: refused before anything reaches the session's Spark or the
    trusted frontend."""
    sess = dispatch_engine.session_for(TEAM1)
    calls = _recording(sess)
    ran = []
    monkeypatch.setattr(sess._spark, "sql", lambda *a, **k: ran.append(a))
    with pytest.raises(error):
        sess.sql(stmt)
    assert ran == [] and calls == []
    assert sess._spark.conf.get("spark.sql.runSQLOnFiles") == "false"


@pytest.mark.parametrize(
    "stmt",
    [
        "FROM claims INSERT INTO scratch SELECT claim_id",
        "WITH c AS (SELECT 1) FROM claims INSERT INTO scratch SELECT claim_id "
        "INSERT INTO scratch SELECT patient_id",
        "INSERT INTO TABLE scratch VALUES ('x')",
        "INSERT INTO scratch BY NAME SELECT 'x' AS x",
        "INSERT INTO `scratch` VALUES ('x')",
    ],
)
def test_insert_forms_the_frontend_cannot_dispatch_deny(dispatch_engine, stmt):
    """Every grant held (INSERT on the target, unfiltered SELECT on the
    source), yet the spelling has no handler on the trusted frontend,
    whose fallback would run it eagerly: denied, never delegated."""
    policy = dispatch_engine.policy
    policy.grant("h", "scratch", {SELECT, INSERT})
    policy.grant("h", "claims", {SELECT})
    try:
        sess = dispatch_engine.session_for("h")
        calls = _recording(sess)
        with pytest.raises(AccessDeniedException):
            sess.sql(stmt)
        assert calls == []
        # the spellings the frontend does dispatch still delegate
        sess.sql("INSERT INTO scratch SELECT claim_id FROM claims")
        sess.sql("WITH c AS (SELECT 'y' AS x) FROM c INSERT INTO scratch SELECT x")
        assert len(calls) == 2
    finally:
        policy.revoke("h", "scratch")
        policy.revoke("h", "claims")


def test_team2_denied_before_spark_runs(dispatch_engine, monkeypatch):
    sess = dispatch_engine.session_for(TEAM2)
    ran = []
    monkeypatch.setattr(sess._spark, "sql", lambda *a, **k: ran.append(a))
    with pytest.raises(AccessDeniedException):
        sess.sql("SELECT * FROM patients")
    assert ran == []


def test_parse_plan_called_only_in_parse_statement():
    """Static gate: the engine parses SQL with Spark in exactly one
    place, so the policy layer and the frontend cannot disagree on what
    a statement is."""
    import ast
    import pathlib

    pkg = pathlib.Path(policy_mod.__file__).resolve().parent
    tree = ast.parse((pkg / "policy.py").read_text())
    fn = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "parse_statement"
    )
    sites = [
        (py.relative_to(pkg).as_posix(), i)
        for py in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(py.read_text().splitlines(), 1)
        if "parsePlan(" in line
    ]
    assert sites and all(
        rel == "policy.py" and fn.lineno <= i <= fn.end_lineno for rel, i in sites
    ), f"parsePlan( outside policy.parse_statement: {sites}"


# ---------------------------------------------------------------------------
# Audit: every consumer denial leaves exactly one `denied` record.


@pytest.fixture()
def audit_engine(spark, tmp_path):
    eng = FgacEngine(spark, str(tmp_path / "audit"))
    setup_healthcare(eng)
    eng.sql("CREATE TABLE scratch (x STRING)")
    eng.policy.grant("mallory", "scratch", {SELECT, INSERT})
    return eng


def _denied_rows(eng):
    return eng.sql(
        "SELECT count(*) AS n FROM system.audit_log WHERE decision = 'denied'"
    ).collect()[0].n


DENY_PATHS = [
    pytest.param(TEAM2, "SELECT * FROM patients", id="read-fence"),
    pytest.param(TEAM2, "SELECT * FROM dev.consumer_healthcare_db.rl_patients", id="3-part-link"),
    pytest.param(TEAM2, "SELECT * FROM patients VERSION AS OF 1", id="time-travel"),
    pytest.param(TEAM2, "SELECT * FROM patients.snapshots", id="metadata-table"),
    pytest.param(TEAM2, "EXPLAIN SELECT * FROM patients", id="explain"),
    pytest.param(
        TEAM2,
        "SELECT * FROM claims c ASOF JOIN patients p "
        "ON c.patient_id = p.patient_id AND c.claim_date >= p.date_of_birth",
        id="asof-resolver",
    ),
    pytest.param("mallory", "INSERT INTO scratch SELECT * FROM parquet.`/tmp`", id="file-relation"),
    pytest.param("mallory", "INSERT INTO scratch SELECT patient_name FROM patients", id="write-source"),
    pytest.param(TEAM1, "INSERT INTO claims SELECT * FROM claims", id="write-permission"),
    pytest.param(
        "mallory", "WITH c AS (SELECT 'a' AS x) DELETE FROM scratch WHERE x IN (SELECT x FROM c)",
        id="cte-wrapped-write",
    ),
    pytest.param("mallory", "FROM scratch INSERT INTO scratch SELECT x", id="hive-insert"),
    pytest.param("mallory", "CALL system.expire_snapshots(table => 'scratch')", id="call"),
    pytest.param("mallory", "CREATE OR REPLACE TABLE scratch (x STRING)", id="create-or-replace"),
    pytest.param("mallory", "CREATE TABLE fresh (k INT)", id="create-table"),
    pytest.param("mallory", "SET spark.sql.runSQLOnFiles=true", id="unsupported-statement"),
    pytest.param("mallory", "OPTIMIZE claims REWRITE DATA USING BIN_PACK", id="residual-grammar"),
    pytest.param("mallory", "DESCRIBE DATABASE default", id="database-describe"),
]


@pytest.mark.parametrize("principal,stmt", DENY_PATHS)
def test_each_consumer_denial_audited_once(audit_engine, principal, stmt):
    sess = audit_engine.session_for(principal)
    before = _denied_rows(audit_engine)
    with pytest.raises(AccessDeniedException):
        out = sess.sql(stmt)
        if out is not None:
            out.collect()
    assert _denied_rows(audit_engine) == before + 1


def test_filtered_source_and_permanent_table_denials_audited_once(
    audit_engine, spark, tmp_path
):
    """The two fences that deny AFTER a granted check: a data-cells-
    filtered grant used as a write source, and a permanent catalog table
    (what SPJ mirrors are) named in a read."""
    audit_engine.policy.grant(TEAM1, "scratch", {SELECT, INSERT})
    team1 = audit_engine.session_for(TEAM1)
    before = _denied_rows(audit_engine)
    with pytest.raises(AccessDeniedException, match="unfiltered"):
        team1.sql("INSERT INTO scratch SELECT patient_name FROM patients")
    assert _denied_rows(audit_engine) == before + 1
    spark.sql(
        f"CREATE TABLE perm_vault (a INT) USING parquet LOCATION '{tmp_path}/perm'"
    )
    try:
        before = _denied_rows(audit_engine)
        with pytest.raises(AccessDeniedException):
            team1.sql("SELECT * FROM perm_vault")
        assert _denied_rows(audit_engine) == before + 1
    finally:
        spark.sql("DROP TABLE perm_vault")
