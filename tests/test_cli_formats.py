"""Output-FORMAT rendering + CLI statement loop (S12, EP1;
lectures/lecture_03.md:196-213 format surface, hw02.md:110 ``\\G``)."""

from otus_clickhouse_spark.__main__ import pop_format, run_statement
from otus_clickhouse_spark.functions.lexer import split_statements
from otus_clickhouse_spark.formats import render

COLS = ["id", "name", "score"]
ROWS = [(1, "alice", 9.5), (2, "bo,b", None)]


def test_pretty_box():
    out = render(COLS, ROWS, "Pretty")
    lines = out.split("\n")
    assert lines[0].startswith("┌─id─┬─name─") and lines[-1].startswith("└")
    assert "│  1 │ alice │" in lines[1]  # numbers right-aligned, strings left


def test_vertical():
    out = render(COLS, ROWS, "Vertical")
    assert "Row 1:" in out and "name : alice" in out and "score: \\N" in out


def test_csv_tsv_json_values():
    assert render(COLS, ROWS, "CSVWithNames").splitlines()[0] == "id,name,score"
    assert '"bo,b"' in render(COLS, ROWS, "CSV")  # quoted comma
    assert render(COLS, ROWS, "TSV").splitlines()[0] == "1\talice\t9.5"
    json_lines = render(COLS, ROWS, "JSONEachRow").splitlines()
    assert json_lines[0] == '{"id": 1, "name": "alice", "score": 9.5}'
    assert render(COLS, ROWS, "Values").startswith("(1,'alice',9.5)")
    assert render(COLS, ROWS, "Null") == ""


def test_pop_format():
    assert pop_format("SELECT 1 FORMAT JSONEachRow") == ("SELECT 1", "JSONEachRow")
    assert pop_format("SELECT 1\\G") == ("SELECT 1", "Vertical")
    assert pop_format("SELECT 1;") == ("SELECT 1", None)


def test_split_statements():
    stmts = split_statements(
        "SELECT 'a;b'; -- comment; with semicolon\nSELECT 2;\nSELECT (1); "
    )
    assert stmts == ["SELECT 'a;b'", "SELECT 2", "SELECT (1)"]
    assert split_statements("SELECT 1 /* a; b */; SELECT 2") == ["SELECT 1", "SELECT 2"]


def test_run_statement_select_and_ddl(engine):
    out = run_statement(engine, "SELECT 1 AS one, 'x' AS s FORMAT CSVWithNames")
    assert out.splitlines()[:2] == ["one,s", "1,x"]
    assert "rows in set" in out
    out = run_statement(engine, "SELECT count() AS n FROM numbers(5) FORMAT TSV")
    assert out.splitlines()[0] == "5"
    # a routed statement returns Ok./rendered output, not a crash
    run_statement(engine, "CREATE TABLE cli_t (k UInt32) ENGINE = Memory")
    run_statement(engine, "INSERT INTO cli_t VALUES (1), (2)")
    out = run_statement(engine, "SELECT sum(k) AS s FROM cli_t FORMAT JSONEachRow")
    assert '{"s": 3}' in out
    run_statement(engine, "DROP TABLE cli_t")


def test_render_list_outputs(engine):
    """ADVICE: SHOW CREATE TABLE / SHOW CLUSTERS / EXPLAIN return
    list-of-strings from the router; the CLI must print them, not
    'Ok.'. SHOW INDEXES returns tuples — tab-joined lines."""
    run_statement(engine, "CREATE TABLE cli_show_t (k UInt32, v String) ENGINE = MergeTree ORDER BY k")
    try:
        out = run_statement(engine, "SHOW CREATE TABLE cli_show_t")
        assert "CREATE TABLE cli_show_t" in out and "MergeTree" in out
        assert "default" in run_statement(engine, "SHOW CLUSTERS")
        out = run_statement(engine, "EXPLAIN SELECT k FROM cli_show_t")
        assert out.strip() and out != "Ok."
        out = run_statement(engine, "SHOW INDEXES FROM cli_show_t")
        assert "PRIMARY" in out and "\t" in out
    finally:
        run_statement(engine, "DROP TABLE cli_show_t")


def test_cli_queries_hit_query_log(engine):
    """ADVICE: CLI/HTTP SELECTs route through run_query — they get a
    query_id, appear in system.query_log, and are killable."""
    before = len(engine._query_log)
    run_statement(engine, "SELECT 42 AS answer FORMAT TSV")
    assert len(engine._query_log) == before + 1
    assert "42" in engine._query_log[-1][0]


def test_executable_udf(spark):
    """F2 executable UDF (lecture_06.md:88-100): rows stream to an
    external script over TSV stdin/stdout, chunked per Arrow batch."""
    from otus_clickhouse_spark.functions.executable import executable_udf

    df = spark.range(10).selectExpr("id", "concat('u', id) AS name")
    out = executable_udf(
        df,
        ["python3", "-c",
         "import sys\nfor l in sys.stdin:\n i=l.split('\\t')[0]\n print(int(i)*2)"],
        "doubled INT",
        in_cols=["id"],
    )
    rows = {r.id: r.doubled for r in out.collect()}
    assert rows == {i: i * 2 for i in range(10)}


def test_executable_dictionary_source(spark, engine):
    """F3 executable dictionary source (lecture_17.md:22-54): command
    output becomes the broadcast dictionary."""
    from otus_clickhouse_spark.functions.executable import executable_dictionary_source

    src = executable_dictionary_source(
        spark,
        ["python3", "-c", "print('1\\talpha'); print('2\\tbeta')"],
        "k INT, v STRING",
    )
    engine.create_dictionary("exec_dict", src, "k")
    got = engine.sql("SELECT dictGet('exec_dict', 'v', 2) AS v").collect()[0].v
    assert got == "beta"


def test_http_interface(engine):
    """EP2 HTTP interface (lecture_03.md:265-307): curl-style GET/POST
    with ?query=, /ping, FORMAT negotiation, error surface."""
    import urllib.error
    import urllib.parse
    import urllib.request

    from otus_clickhouse_spark.http_server import serve

    server = serve(engine, port=0)  # ephemeral port
    try:
        base = f"http://127.0.0.1:{server.server_address[1]}"
        assert urllib.request.urlopen(f"{base}/ping").read() == b"Ok.\n"
        q = urllib.parse.quote("SELECT number FROM numbers(3) ORDER BY number")
        assert urllib.request.urlopen(f"{base}/?query={q}").read() == b"0\n1\n2\n"
        # FORMAT in the query wins; POST body carries the statement
        body = "SELECT 1 AS one, 'x' AS s FORMAT JSONEachRow".encode()
        out = urllib.request.urlopen(urllib.request.Request(f"{base}/", data=body)).read()
        assert out == b'{"one": 1, "s": "x"}\n'
        try:
            urllib.request.urlopen(f"{base}/?query=SELECT+bad+syntax+FROM")
            raise AssertionError("expected HTTP 500")
        except urllib.error.HTTPError as e:
            assert e.code == 500 and e.headers["X-Exception"]
        metrics = urllib.request.urlopen(f"{base}/metrics").read().decode()
        assert "otus_metric_TablesRegistered" in metrics
        assert "otus_event_SelectQuery_total" in metrics
    finally:
        server.shutdown()
