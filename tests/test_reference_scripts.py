"""Course-script end-to-end: homeworks/scripts/hw02.sql runs verbatim.

The reference's hw02 creates the NYC-taxi ``trips`` table (Enum payment
type, PRIMARY KEY sort key, Nullable/LowCardinality columns) and its
golden query is a filtered count with a NUMERIC enum comparison
(``payment_type = 1`` → 1850287, homeworks/hw02.md:91-105). The s3()
source isn't reachable in this container, so the INSERT pulls from a
local generated frame instead — everything else (DDL text, query text)
is the reference's own SQL.
"""

import os
import re

import pytest

REFERENCE = "/root/reference/homeworks/scripts/hw02.sql"


@pytest.mark.skipif(not os.path.exists(REFERENCE), reason="reference not present")
def test_hw02_script_ddl_and_enum_golden(engine, tmp_path):
    script = open(REFERENCE).read()
    stmts = [s.strip() for s in script.split(";") if s.strip()]
    # 1. the DDL statements run verbatim
    engine.execute(stmts[0])  # DROP TABLE IF EXISTS trips
    engine.execute(stmts[1])  # CREATE TABLE trips … ENGINE = MergeTree PRIMARY KEY …
    td = engine.tables["trips"]
    engine.tables["trips"].path = str(tmp_path / "trips")
    assert td.order_by == ("pickup_datetime", "dropoff_datetime")  # PRIMARY KEY fallback
    assert {c.name: c.enum for c in td.columns}["payment_type"] == {
        "CSH": 1, "CRE": 2, "NOC": 3, "DIS": 4, "UNK": 5,
    }
    # 2. the INSERT's SELECT column list is the reference's; only the
    #    s3() source is swapped for a local generator (no network)
    insert_sql = stmts[2]
    m = re.match(r"(?s)^(INSERT INTO trips\s+SELECT.*?)FROM s3\(", insert_sql)
    assert m, "unexpected hw02 INSERT shape"
    engine.sql(
        "SELECT id AS trip_id, "
        "timestamp_seconds(1435708800 + id * 60) AS pickup_datetime, "
        "timestamp_seconds(1435708800 + id * 60 + 600) AS dropoff_datetime, "
        "CAST(NULL AS DOUBLE) AS pickup_longitude, CAST(NULL AS DOUBLE) AS pickup_latitude, "
        "CAST(NULL AS DOUBLE) AS dropoff_longitude, CAST(NULL AS DOUBLE) AS dropoff_latitude, "
        "CAST(id % 4 + 1 AS INT) AS passenger_count, "
        "CAST(id % 100 / 10.0 AS FLOAT) AS trip_distance, "
        "CAST(5 + id % 40 AS FLOAT) AS fare_amount, CAST(0.5 AS FLOAT) AS extra, "
        "CAST(id % 5 AS FLOAT) AS tip_amount, CAST(0 AS FLOAT) AS tolls_amount, "
        "CAST(6 + id % 45 AS FLOAT) AS total_amount, "
        "CAST(id % 5 + 1 AS INT) AS payment_type, "
        "concat('nta', id % 7) AS pickup_ntaname, concat('nta', id % 9) AS dropoff_ntaname "
        "FROM range(10000)"
    ).createOrReplaceTempView("__hw02_src")
    engine.execute(m.group(1) + "FROM __hw02_src")
    # numeric code 1..5 normalized to names on insert
    stored = {r.payment_type for r in engine.table("trips").select("payment_type").distinct().collect()}
    assert stored == {"CSH", "CRE", "NOC", "DIS", "UNK"}
    # 3. the hw02.md golden queries, verbatim shapes
    n = engine.sql("select count() AS n from trips where payment_type = 1").collect()[0].n
    assert n == 2000  # ids ≡ 0 (mod 5) → 'CSH'
    n2 = engine.sql(
        "select count() AS n from trips where payment_type in (1, 2)"
    ).collect()[0].n
    assert n2 == 4000
    # string-side comparisons still work
    assert engine.sql(
        "select count() AS n from trips where payment_type = 'CSH'"
    ).collect()[0].n == 2000
    # range predicates compare CODES like CH (payment_type > 3 → DIS, UNK)
    assert engine.sql(
        "select count() AS n from trips where payment_type > 3"
    ).collect()[0].n == 4000
    # ORDER BY compares codes, not name strings (alphabetical would put
    # CRE before CSH)
    order = [
        r.payment_type
        for r in engine.sql(
            "select payment_type from trips group by payment_type order by payment_type"
        ).collect()
    ]
    assert order == ["CSH", "CRE", "NOC", "DIS", "UNK"]
    # scoped rewrite: a same-named column in a query that never touches
    # the enum's table keeps its numeric comparison
    assert engine.sql(
        "select count(*) AS n from (select 1 as payment_type) where payment_type = 1"
    ).collect()[0].n == 1
    engine.execute("DROP TABLE trips")


def test_lecture_system_queries_verbatim(engine):
    """System-catalog query shapes lifted verbatim from the lectures
    (lecture_02.md:197-276 tables/parts introspection, lecture_06.md:
    112-119 functions, lecture_16.md:60-98 mutations) run unchanged."""
    shapes = [
        "SELECT DISTINCT partition_id FROM system.parts",
        "SELECT name, disk_name, path FROM system.parts",
        "SELECT name, uuid, engine, metadata_path FROM system.tables",
        "select data_paths, metadata_path from system.tables",
        "select name, engine from system.tables",
        "SELECT name, create_query FROM system.functions",
        "select command, table, is_done from system.mutations",
        "select columns('key') from system.tables",
        "select name, value from system.settings",
        "SELECT name FROM system.users",
    ]
    for q in shapes:
        engine.sql(q).collect()  # must parse + run; content covered elsewhere
    # COLUMNS('key') expands to the *_key columns like CH
    cols = engine.sql("select columns('key') from system.tables limit 1").columns
    assert set(cols) == {"primary_key", "sorting_key", "partition_key"}


@pytest.mark.skipif(not os.path.exists("/root/reference"), reason="reference not present")
def test_every_reference_select_translates():
    """Robustness sweep: every SELECT/WITH block embedded in the
    reference's lectures and homeworks must pass the dialect translator
    without raising (whether or not its tables exist here). The only
    accepted failure class is a catalog-object-not-registered error
    (e.g. joinGet on a Join-engine table never created in this session)
    — which is ClickHouse's own behavior, not a parse failure."""
    from otus_clickhouse_spark.functions.dialect import translate

    blocks = []
    for root, _, files in os.walk("/root/reference"):
        for fn in files:
            if not fn.endswith(".md"):
                continue
            text = open(os.path.join(root, fn), encoding="utf-8", errors="ignore").read()
            for m in re.finditer(r"```(?:sql)?\n(.*?)```", text, re.DOTALL):
                for stmt in m.group(1).split(";"):
                    s = stmt.strip()
                    if re.match(r"(?i)^(SELECT|WITH)\b", s) and len(s) > 20 and "{" not in s:
                        blocks.append((fn, s))
    assert len(blocks) >= 60  # the harvest itself must keep working
    hard_failures = []
    for fn, s in blocks:
        try:
            translate(s, tables={})
        except Exception as exc:  # noqa: BLE001 — classifying failure modes
            if "unknown" in str(exc).lower():
                continue  # catalog miss: correct behavior for unregistered objects
            hard_failures.append((fn, str(exc)[:120], s[:80]))
    assert not hard_failures, hard_failures


@pytest.mark.skipif(not os.path.exists("/root/reference"), reason="reference not present")
def test_every_reference_ddl_executes(spark):
    """DDL robustness sweep: every CREATE/ALTER/DROP/TRUNCATE/OPTIMIZE
    block in the course materials runs through Engine.execute. Accepted
    failure classes, each of which matches ClickHouse's own behavior:
    catalog misses (tables created outside the harvested blocks),
    duplicate CREATEs without IF NOT EXISTS, and the docs' own
    bracketed syntax templates (`[db.]name … <COLUMN LIST>`), which are
    not SQL."""
    from otus_clickhouse_spark.engine import Engine

    eng = Engine(spark)
    blocks = []
    for root, _, files in os.walk("/root/reference"):
        for fn in files:
            if not fn.endswith(".md"):
                continue
            text = open(os.path.join(root, fn), encoding="utf-8", errors="ignore").read()
            for m in re.finditer(r"```(?:sql)?\n(.*?)```", text, re.DOTALL):
                for stmt in m.group(1).split(";"):
                    s = stmt.strip()
                    if (
                        re.match(
                            r"(?i)^(CREATE\s+TABLE|CREATE\s+MATERIALIZED|CREATE\s+DICTIONARY"
                            r"|CREATE\s+VIEW|ALTER\s+TABLE|DROP\s+TABLE|TRUNCATE|OPTIMIZE)\b",
                            s,
                        )
                        and len(s) > 20
                        and "{" not in s.split("\n")[0]
                        and "[db.]" not in s
                        and "<COLUMN" not in s
                    ):
                        blocks.append((fn, s))
    assert len(blocks) >= 90
    hard = []
    ok = 0
    for fn, s in blocks:
        try:
            eng.execute(s)
            ok += 1
        except Exception as exc:  # noqa: BLE001 — classifying failure modes
            msg = str(exc)
            if (
                "TABLE_OR_VIEW_NOT_FOUND" in msg
                or "unknown table" in msg.lower()
                or "unknown projection" in msg.lower()  # ADD ran in another block
                or "already exists" in msg
                or re.fullmatch(r"'\w+'", msg.strip())  # KeyError on missing table
            ):
                continue
            hard.append((fn, msg[:120], s[:80].replace("\n", " ")))
    assert ok >= 85, f"only {ok} DDL blocks executed"
    assert not hard, hard


def test_hw08_sales_insert_verbatim(engine):
    """hw08.md:28-35 runs as written: CH dynamic interval arithmetic
    (`+ interval (floor(id/100)) days`) and select-list alias reuse
    (`floor(id/100)` referencing the `id` alias)."""
    engine.execute("DROP TABLE IF EXISTS sales_hw08")
    engine.execute(
        "create table sales_hw08 (id UInt32, product_id UInt32, quantity UInt32,"
        " price Float32, sale_date Date) engine = MergeTree order by id"
    )
    engine.execute(
        """insert into sales_hw08
        select
            number as id
            , floor(randUniform(1, 11)) as product_id
            , floor(randUniform(1, 5)) as quantity
            , round(randUniform(5.5, 10), 2) as price
            , toDate('2024-01-01') + interval (floor(id/100)) days as sale_date
        from numbers(1, 1000)"""
    )
    rows = engine.sql(
        "select count() as c, min(sale_date) as lo, max(sale_date) as hi from sales_hw08"
    ).collect()[0]
    assert rows.c == 1000
    assert str(rows.lo) == "2024-01-01" and str(rows.hi) == "2024-01-11"
    engine.execute("DROP TABLE IF EXISTS sales_hw08")


def test_lecture07_trailing_comma_insert_verbatim(engine):
    """lecture_07.md:43-45 runs as written: ENGINE without '=', and a
    trailing comma at the end of the select list."""
    engine.execute("DROP TABLE IF EXISTS otus_tbl_t")
    engine.execute(
        "CREATE TABLE otus_tbl_t ( id UInt64, name String ) ENGINE MergeTree() ORDER BY id"
    )
    engine.execute(
        "INSERT INTO otus_tbl_t(id, name)\n"
        "select number * number, 'data ' || toString(number),\nFROM numbers(10)"
    )
    assert engine.sql("select count() as c from otus_tbl_t").collect()[0].c == 10
    engine.execute("DROP TABLE IF EXISTS otus_tbl_t")


def test_hw07_script_dictionary_windows(engine, tmp_path):
    """homeworks/hw07.md:9-157 verbatim: the dictionary + window
    homework end to end. Data is randUniform-generated (as in the
    reference), so assertions are structural rather than goldens:
    dictGet resolves every user's email, the action-partitioned
    cumulative sum is monotone per action, and the email-ordered
    window groups whole email frames (RANGE default)."""
    for name in ("user_actions", "user_emails"):
        engine.execute(f"DROP TABLE IF EXISTS {name}")
    engine.execute(
        "create table user_actions ( user_id UInt64, action String, "
        "expense UInt64 ) engine=MergeTree() order by user_id"
    )
    engine.execute(
        "create table user_emails ( user_id UInt64, email String ) "
        "engine=MergeTree order by user_id"
    )
    engine.tables["user_actions"].path = str(tmp_path / "user_actions")
    engine.tables["user_emails"].path = str(tmp_path / "user_emails")
    try:
        engine.execute(
            "CREATE DICTIONARY IF NOT EXISTS user_emails_dict ( user_id UInt64, "
            "email String ) PRIMARY KEY user_id "
            "SOURCE(CLICKHOUSE(DB 'default' TABLE 'user_emails')) "
            "LIFETIME(MIN 86400 MAX 126000) LAYOUT(hashed())"
        )
        # hw07.md:47-52 — note the reference reuses the user_id ALIAS
        # inside the same select list ('user' || toString(user_id)), a
        # ClickHouse-ism the dialect must expand
        engine.execute(
            "insert into user_emails select number + 1 as user_id , "
            "'user' || toString(user_id) || '@mail.com' as email from numbers(10)"
        )
        engine.execute("SYSTEM RELOAD DICTIONARY user_emails_dict")
        engine.execute(
            "insert into user_actions select user_id, action, expense from ( "
            "select round(randUniform(1, 10)) as user_id , "
            "toInt8(round(randUniform(1, 5))) as action_id , "
            "round(randUniform(1, 100)) as expense FROM numbers(10000) ) t1 "
            "join ( select toInt8(number + 1) as action_id , "
            "'action' || toString(number) as action from numbers(5) ) t2 "
            "using (action_id)"
        )
        assert engine.table("user_actions").count() > 0
        # hw07.md:84-90: dictGet resolves an email for every row
        rows = engine.sql(
            "select user_id, dictGet('user_emails_dict', 'email', user_id) AS email "
            "from user_actions limit 5"
        ).collect()
        assert len(rows) == 5
        assert all(r.email and r.email.endswith("@mail.com") for r in rows)
        # hw07.md:92-107: cumulative expense, window partitioned by action
        cum = engine.sql(
            "SELECT user_id, action, expense, "
            "sum(expense) OVER (PARTITION BY action ORDER BY rn ASC) AS cum "
            "FROM ( SELECT user_id, action, expense, row_number() OVER () AS rn "
            "FROM user_actions )"
        ).collect()
        by_action = {}
        for r in sorted(cum, key=lambda r: (r.action, r.cum)):
            prev = by_action.get(r.action, 0)
            assert r.cum >= prev and r.cum >= r.expense
            by_action[r.action] = r.cum
        # hw07.md:119-138: ordering the window by a dictGet'd email —
        # CH's default RANGE frame sums the WHOLE tied email group
        em = engine.sql(
            "select user_id , expense , "
            "sum(expense) over (partition by action order by email) AS s "
            "from ( select user_id , action , expense , "
            "dictGet('user_emails_dict', 'email', user_id) email "
            "from user_actions ) t limit 5"
        ).collect()
        assert len(em) == 5 and all(r.s >= r.expense for r in em)
    finally:
        engine.execute("DROP DICTIONARY IF EXISTS user_emails_dict")
        engine.execute("DROP TABLE IF EXISTS user_actions")
        engine.execute("DROP TABLE IF EXISTS user_emails")


def test_hw12_script_rbac(engine):
    """homeworks/hw12.md:9-107 verbatim: the access-control homework.
    CREATE USER john / ROLE devs, the ACCESS_DENIED golden for an
    unprivileged read of system.users, GRANT + SET ROLE activation,
    then the system.users / system.roles / system.grants goldens."""
    engine.execute("create user john IDENTIFIED WITH sha256_password BY 'qwerty'")
    try:
        # hw12.md:14-22: auth method surfaces in system.users
        users = {r.name: r.auth_type for r in engine.sql(
            "select name, auth_type from system.users "
            "where name in ('default', 'john')").collect()}
        assert users == {"default": "plaintext_password",
                         "john": "sha256_password"}
        engine.execute("CREATE ROLE devs")
        roles = engine.sql("select * from system.roles").collect()
        assert [(r.name, r.storage) for r in roles] == [("devs", "local_directory")]
        assert len(roles[0].id) == 36  # uuid-shaped, like the golden
        engine.execute("GRANT select on system.* to devs")
        # hw12.md:53-61: john without the active role is DENIED
        engine.set_user("john")
        import pytest as _pytest
        with _pytest.raises(PermissionError, match="system.users"):
            engine.sql("select * from system.users").collect()
        engine.set_user("default")
        engine.execute("GRANT devs TO john")
        # hw12.md:66-80: SET ROLE activates the grant; the read succeeds
        engine.set_user("john")
        engine.execute("set role devs")
        got = {r.name: r.auth_type for r in engine.sql(
            "select name, auth_type from system.users "
            "where name in ('default', 'john')").collect()}
        assert got == users
        engine.set_user("default")
        # hw12.md:83-107: the grants row, keyed by role_name
        g = engine.sql(
            "select * from system.grants where role_name in "
            "( select name from system.roles )").collect()
        assert len(g) == 1
        row = g[0]
        assert (row.user_name, row.role_name, row.access_type, row.database,
                row.table, row.column, row.is_partial_revoke,
                row.grant_option) == (None, "devs", "SELECT", "system",
                                      None, None, 0, 0)
    finally:
        engine.set_user("default")
        engine.execute("DROP USER IF EXISTS john")
        engine.execute("DROP ROLE IF EXISTS devs")


def test_lecture11_prime_dictionary(engine, tmp_path):
    """lectures/lecture_11.md:320-392: the prime_numbers dictionary —
    dictGet, SELECT-from-dictionary-as-a-table, system.dictionaries
    metadata, SHOW CREATE DICTIONARY."""
    engine.execute("DROP TABLE IF EXISTS prime_numbers")
    engine.execute(
        "create table prime_numbers ( number UInt64, is_prime bool ) "
        "Engine = MergeTree order by number"
    )
    engine.tables["prime_numbers"].path = str(tmp_path / "prime_numbers")
    try:
        engine.execute(
            "INSERT INTO prime_numbers VALUES (1, false), (2, true), "
            "(3, true), (4, false), (5, true)"
        )
        engine.execute(
            "create dictionary prime_numbers_dict ( number UInt64, "
            "is_prime bool ) primary key number "
            "source(clickhouse(DB 'default' TABLE 'prime_numbers')) "
            "lifetime(min 0 max 300) layout(flat)"
        )
        got = engine.sql(
            "select number, dictGet('prime_numbers_dict', 'is_prime', number) "
            "AS is_prime from numbers(5) ORDER BY number"
        ).collect()
        assert [(r.number, bool(r.is_prime)) for r in got] == [
            (0, False), (1, False), (2, True), (3, True), (4, False)]
        # the dictionary is also a table (lecture_11.md:310)
        assert engine.sql(
            "select count() AS n from prime_numbers_dict").collect()[0].n == 5
        d = engine.sql(
            "select * from system.dictionaries where name = 'prime_numbers_dict'"
        ).collect()[0]
        assert d.status == "LOADED" and d.element_count == 5
        assert d["key.names"] == ["number"] and d["attribute.names"] == ["is_prime"]
        assert d.source == "prime_numbers" and len(d.uuid) == 36
        shown = engine.execute("show create dictionary prime_numbers_dict")[0]
        assert shown.lower().startswith("create dictionary prime_numbers_dict")
        assert "layout(flat)" in shown.lower()
    finally:
        engine.execute("DROP DICTIONARY IF EXISTS prime_numbers_dict")
        engine.execute("DROP TABLE IF EXISTS prime_numbers")


def test_hw13_script_backup_restore_verbatim(engine, tmp_path):
    """homeworks/hw13.md:15-159 replayed statement-for-statement:
    storage_policies golden, Disk backup of a 100k-row MergeTree,
    corrupt-then-restore-AS, S3 table-function backup form, and the
    system.backups status rows both flows leave behind."""
    import shutil as _shutil

    _shutil.rmtree("spark-warehouse/_disks", ignore_errors=True)
    _shutil.rmtree("spark-warehouse/_s3_backups", ignore_errors=True)
    # hw13.md:15-27: the s3_main policy exists alongside default
    engine.add_storage_policy("s3_main", "s3", ["s3"])
    pol = engine.sql(
        "select policy_name, volume_name, disks from system.storage_policies"
    ).collect()
    assert ("s3_main", "s3", ["s3"]) in [(r.policy_name, r.volume_name, list(r.disks)) for r in pol]
    for tbl, dest, restored in (
        ("test", "Disk('s3', 'test_new_')", "test_restored"),
        (
            "test_s3",
            "S3('http://minio:9000/backup-bucket/', 'minioadmin', 'minioadminpassword')",
            "test_s3_restored",
        ),
    ):
        engine.execute(f"DROP TABLE IF EXISTS {tbl}")
        engine.execute(
            f"CREATE TABLE {tbl} ( id Int32, status String ) ENGINE = MergeTree ORDER BY id"
        )
        engine.tables[tbl].path = str(tmp_path / tbl)
        engine.execute(
            f"INSERT INTO {tbl} SELECT number as id , 'before backup' FROM numbers(100000)"
        )
        res = engine.execute(f"BACKUP TABLE {tbl} TO {dest}")
        assert res["status"] == "BACKUP_CREATED"
        engine.execute(f"alter table {tbl} update status = 'corrupted data' where true")
        got = engine.sql(f"select * from {tbl} order by id limit 5").collect()
        assert [r.status for r in got] == ["corrupted data"] * 5
        engine.execute(f"RESTORE TABLE {tbl} AS {restored} FROM {dest}")
        got = engine.sql(f"select * from {restored} order by id limit 5").collect()
        assert [(r.id, r.status) for r in got] == [(i, "before backup") for i in range(5)]
        assert engine.table(restored).count() == 100000
        engine.execute(f"DROP TABLE {restored}")
        engine.execute(f"DROP TABLE {tbl}")
    statuses = [r.status for r in engine.sql("select * from system.backups").collect()]
    assert statuses.count("BACKUP_CREATED") >= 2 and statuses.count("RESTORED") >= 2
    _shutil.rmtree("spark-warehouse/_disks", ignore_errors=True)
    _shutil.rmtree("spark-warehouse/_s3_backups", ignore_errors=True)
    # the engine fixture is session-scoped: drop the policy this test added
    engine.storage_policies = [p for p in engine.storage_policies if p[0] != "s3_main"]


def test_hw06_imdb_lab_verbatim(engine, tmp_path):
    """homeworks/hw06.md replayed statement-for-statement: CREATE
    DATABASE imdb + USE + qualified DDL, s3()-shaped bulk INSERT
    (local TSV stand-ins for the public dataset — no network in the
    sandbox), then the lab's join-shape queries: LEFT JOIN +
    groupArray, LEFT ANTI, cross-join count, LEFT ANY."""
    import gzip
    import shutil as _shutil

    engine.execute("CREATE DATABASE IF NOT EXISTS imdb")
    engine.execute("use imdb")
    for tbl in ("actors", "genres", "movies", "roles"):
        engine.execute(f"DROP TABLE IF EXISTS imdb.{tbl}")
    engine.execute(
        "CREATE TABLE imdb.actors ( id UInt32, first_name String, last_name String, "
        "gender FixedString(1) ) ENGINE = MergeTree ORDER BY (id, first_name, last_name, gender)"
    )
    engine.execute(
        "CREATE TABLE imdb.genres ( movie_id UInt32, genre String ) "
        "ENGINE = MergeTree ORDER BY (movie_id, genre)"
    )
    engine.execute(
        "CREATE TABLE imdb.movies ( id UInt32, name String, year UInt32, "
        "rank Float32 DEFAULT 0 ) ENGINE = MergeTree ORDER BY (id, name, year)"
    )
    engine.execute(
        "CREATE TABLE imdb.roles ( actor_id UInt32, movie_id UInt32, role String, "
        "created_at DateTime DEFAULT now() ) ENGINE = MergeTree ORDER BY (actor_id, movie_id)"
    )
    for tbl in ("actors", "genres", "movies", "roles"):
        # qualified DDL registers under the imdb namespace (mangled flat name)
        engine.tables[f"imdb__{tbl}"].path = str(tmp_path / tbl)
    assert set(engine.execute("SHOW TABLES FROM imdb LIKE '%s%'")) >= {"actors", "genres", "roles"}
    # local TSVWithNames gz stand-ins for the dataset's S3 objects
    data = {
        "actors": "id\tfirst_name\tlast_name\tgender\n1\tAda\tLovelace\tF\n2\tAlan\tTuring\tM\n3\tGrace\tHopper\tF\n",
        "genres": "movie_id\tgenre\n10\tDrama\n10\tSci-Fi\n11\tComedy\n",
        "movies": "id\tname\tyear\trank\n10\tFinaru\t2002\t7.5\n11\tExpress\t2002\t6.0\n12\tNoGenre\t1999\t0\n",
        "roles": "actor_id\tmovie_id\trole\n1\t10\tLead\n2\t11\tLead\n3\t12\tLead\n1\t11\tCameo\n",
    }
    for tbl, text in data.items():
        p = tmp_path / f"{tbl}.tsv.gz"
        with gzip.open(p, "wt") as f:
            f.write(text)
        cols = "(actor_id, movie_id, role)" if tbl == "roles" else ""
        sel = "actor_id, movie_id, role" if tbl == "roles" else "*"
        engine.execute(
            f"INSERT INTO imdb.{tbl}{cols} SELECT {sel} "
            f"FROM s3('file://{p}', 'TSVWithNames')"
        )
    assert engine.execute("select count() from movies")[0][0] == 3
    assert engine.execute("select count() from imdb.roles")[0][0] == 4
    # roles.created_at DEFAULT now() filled for the partial column list
    assert engine.sql("SELECT count() AS n FROM roles WHERE created_at IS NOT NULL").collect()[0].n == 4
    # LEFT JOIN + groupArray of genres (lab query 1)
    rows = engine.execute(
        "select m.name , m.year , groupArray(g.genre) as genres "
        "from movies m left join genres g on m.id = g.movie_id "
        "group by name, year order by name"
    )
    got = {r.name: sorted(x for x in r.genres if x is not None) for r in rows}
    assert got["Finaru"] == ["Drama", "Sci-Fi"] and got["NoGenre"] == []
    # LEFT ANTI: movies with no genre
    rows = engine.execute(
        "select m.name , m.year from movies m "
        "left anti join genres g on m.id = g.movie_id"
    )
    assert [r.name for r in rows] == ["NoGenre"]
    # cross join count (the '51 years' maneuver, tiny here)
    assert engine.execute("SELECT count() FROM movies, genres")[0][0] == 9
    # LEFT ANY: at most one genre per movie
    rows = engine.execute(
        "select m.name , g.genre from movies m "
        "left ANY join genres g on m.id = g.movie_id order by m.name"
    )
    assert len(rows) == 3  # one row per movie, not per genre
    # actors in 2002 movies (lab's nested-subquery shape)
    rows = engine.execute(
        "select a.first_name , a.last_name from actors a join ( "
        "select distinct actor_id as id from roles where movie_id in ( "
        "select id from movies where year = 2002 ) ) r on a.id = r.id "
        "order by first_name"
    )
    assert [(r.first_name, r.last_name) for r in rows] == [("Ada", "Lovelace"), ("Alan", "Turing")]
    for tbl in ("actors", "genres", "movies", "roles"):
        engine.execute(f"DROP TABLE IF EXISTS imdb.{tbl}")
    engine.execute("DROP DATABASE imdb")


def test_hw11_mutations_lab_verbatim(engine, tmp_path):
    """homeworks/hw11.md replayed statement-for-statement: partitioned
    CREATE with column comments, the scalar-CTE + randUniform +
    JSONExtractString INSERT, system.parts inspection (group by all +
    formatReadableSize + groupArray), ALTER UPDATE + system.mutations,
    DROP PARTITION, a fresh-partition insert, and MODIFY TTL."""
    engine.execute("DROP TABLE IF EXISTS user_activity")
    engine.execute(
        "create table user_activity \n"
        "(\n"
        "    user_id         UInt32                  comment 'идентификатор пользователя',\n"
        "    activity_type   LowCardinality(String)  comment 'тип активности',\n"
        "    activity_date   DateTime                comment 'дата и время активности'\n"
        ")\n"
        "engine=MergeTree\n"
        "partition by toYYYYMMDD(activity_date)\n"
        "order by user_id"
    )
    engine.tables["user_activity"].path = str(tmp_path / "user_activity")
    try:
        engine.execute(
            "insert into user_activity\n"
            "with '{\"1\": \"login\", \"2\": \"logout\", \"3\": \"purchase\"}' as activity_type_cte\n"
            "select\n"
            "    floor(randUniform(1, 11)) as user_id\n"
            "    , JSONExtractString(activity_type_cte, toString(floor(randUniform(1, 4)))) as activity_type\n"
            "    , toDate('2024-01-01') + interval (floor(number/1000)) hours as activity_date \n"
            "from numbers(1, 100000)"
        )
        assert engine.sql("SELECT count() AS n FROM user_activity").collect()[0].n == 100000
        types = {r.activity_type for r in engine.sql(
            "SELECT DISTINCT activity_type FROM user_activity").collect()}
        assert types <= {"login", "logout", "purchase"}
        # the lab's parts inspection shape (group by all + groupArray)
        parts = engine.sql(
            "select table, partition, formatReadableSize(sum(bytes_on_disk)) AS size, "
            "groupArray(name) AS parts from system.parts "
            "where table = 'user_activity' group by all order by partition"
        ).collect()
        partitions = [r.partition for r in parts]
        assert "20240101" in partitions and "20240105" in partitions
        # mutation + log
        engine.execute(
            "alter table user_activity UPDATE activity_type = 'some new type' WHERE user_id = 1"
        )
        muts = engine.sql("select * from system.mutations").collect()
        assert any("some new type" in (r.command or "") for r in muts)
        got = engine.sql(
            "select * from user_activity where user_id = 1 "
            "and toDate(activity_date) = '2024-01-01' limit 1"
        ).collect()
        assert got and got[0].activity_type == "some new type"
        # drop one day's partition
        engine.execute("ALTER TABLE user_activity DROP PARTITION 20240101")
        assert engine.sql(
            "select count() AS n from user_activity where toDate(activity_date) = '2024-01-01'"
        ).collect()[0].n == 0
        # fresh partition via a now() insert
        engine.execute("insert into user_activity select 1, 'test new partition', now()")
        assert engine.sql(
            "SELECT count() AS n FROM user_activity WHERE activity_type = 'test new partition'"
        ).collect()[0].n == 1
        # TTL attachment (application covered by the TTL suites)
        engine.execute(
            "ALTER TABLE user_activity MODIFY TTL activity_date + INTERVAL 1 DAY"
        )
        assert engine.tables["user_activity"].ttl
    finally:
        engine.execute("DROP TABLE IF EXISTS user_activity")


def test_hw09_replication_lab_verbatim(engine, tmp_path):
    """homeworks/hw09.md replayed: ON CLUSTER DDL + ReplicatedMergeTree,
    gcs() {0..2} brace-glob ingest (local stand-in files), CREATE ...
    AS t ENGINE=ReplicatedMergeTree() conversion, ATTACH PARTITION ID
    'all' FROM t, rename ON CLUSTER, system.replicas row, TTL + SHOW
    CREATE."""
    import gzip

    engine.execute("DROP TABLE if exists trips9 on cluster replicated_cluster")
    engine.execute("DROP TABLE if exists trips9_new on cluster replicated_cluster")
    engine.execute(
        "CREATE TABLE trips9 ( trip_id UInt32, pickup_datetime DateTime, "
        "total_amount Float32, payment_type Enum('CSH' = 1, 'CRE' = 2) ) "
        "ENGINE = MergeTree PRIMARY KEY (pickup_datetime)"
    )
    engine.tables["trips9"].path = str(tmp_path / "trips9")
    try:
        # gcs() with {0..2} brace glob over local gz stand-ins
        for i in range(3):
            with gzip.open(tmp_path / f"trips_{i}.gz", "wt") as f:
                f.write("trip_id\tpickup_datetime\ttotal_amount\tpayment_type\n")
                f.write(f"{i}\t2024-01-0{i+1} 10:00:00\t{10.5 + i}\t1\n")
        engine.execute(
            "INSERT INTO trips9 SELECT trip_id, pickup_datetime, total_amount, payment_type "
            f"FROM gcs('file://{tmp_path}/trips_{{0..2}}.gz', 'TabSeparatedWithNames')"
        )
        assert engine.sql("select count() AS n from trips9").collect()[0].n == 3
        # convert to replicated: CREATE ... AS t ENGINE=ReplicatedMergeTree()
        engine.execute(
            "CREATE TABLE trips9_new on cluster replicated_cluster AS trips9 "
            "ENGINE=ReplicatedMergeTree() PRIMARY KEY (pickup_datetime)"
        )
        engine.tables["trips9_new"].path = str(tmp_path / "trips9_new")
        assert engine.tables["trips9_new"].settings.get("replicated")
        assert "ReplicatedMergeTree" in engine.tables["trips9_new"].settings["engine_full"]
        parts = {r.partition_id for r in engine.sql(
            "SELECT DISTINCT partition_id FROM system.parts where table = 'trips9'").collect()}
        assert parts == {"all"}
        engine.execute("ALTER TABLE trips9_new ATTACH PARTITION ID 'all' FROM trips9")
        assert engine.sql("select count() AS n from trips9_new").collect()[0].n == 3
        # source keeps its data (ATTACH FROM copies, unlike MOVE)
        assert engine.sql("select count() AS n from trips9").collect()[0].n == 3
        engine.execute("DROP TABLE if exists trips9 on cluster replicated_cluster")
        engine.execute("rename TABLE trips9_new to trips9 on cluster replicated_cluster")
        assert engine.sql("select count() AS n from trips9").collect()[0].n == 3
        # replicas row for the replicated table
        reps = engine.sql("SELECT * FROM system.replicas").collect()
        assert any(r.table == "trips9" for r in reps)
        # TTL last-7-days + SHOW CREATE renders it
        engine.execute(
            "ALTER TABLE trips9 MODIFY TTL pickup_datetime + INTERVAL 7 DAY"
        )
        shown = engine.execute("SHOW CREATE TABLE trips9")[0]
        assert "TTL" in shown and "ReplicatedMergeTree" in shown
    finally:
        engine.execute("DROP TABLE IF EXISTS trips9")
        engine.execute("DROP TABLE IF EXISTS trips9_new")


def test_hw10_sharding_lab_verbatim(engine, tmp_path):
    """homeworks/hw10.md replayed: ON CLUSTER local-table DDL (with a
    trailing-comma column list), CREATE ... AS local ENGINE =
    Distributed(cluster, db, local, key), sharded insert through the
    Distributed proxy, count via both faces, and the per-shard
    _shard_num rollup."""
    engine.execute("DROP TABLE IF EXISTS sales_d")
    engine.execute("DROP TABLE IF EXISTS sales_local10")
    engine.execute(
        "create table sales_local10 on cluster cluster_4sh1rep\n"
        "(\n"
        "    id         UInt32   comment 'уникальный идентификатор продажи',\n"
        "    product_id UInt32   comment 'идентификатор продукта',\n"
        "    quantity   UInt32   comment 'количество проданных единиц',\n"
        "    price      Float32  comment 'цена за единицу',\n"
        "    sale_date  DateTime comment 'дата продажи',\n"
        ")\n"
        "engine=MergeTree\n"
        "order by id"
    )
    engine.tables["sales_local10"].path = str(tmp_path / "sales_local10")
    try:
        engine._clusters["cluster_4sh1rep"] = 4
        assert "cluster_4sh1rep" in engine.execute("show clusters")
        engine.execute(
            "create table sales_d as sales_local10 "
            "engine = Distributed(cluster_4sh1rep, default, sales_local10, id)"
        )
        engine.execute(
            "insert into sales_d\n"
            "select\n"
            "    number as id\n"
            "    , floor(randUniform(1, 11)) as product_id\n"
            "    , floor(randUniform(1, 5)) as quantity\n"
            "    , round(randUniform(5.5, 10), 2) as price\n"
            "    , toDate('2024-01-01') + interval (floor(number/100)) days as sale_date \n"
            "from numbers(1, 1000)"
        )
        assert engine.execute("select count() from sales_d")[0][0] == 1000
        assert engine.execute("select count() from sales_local10")[0][0] == 1000
        # per-shard rollup through the proxy's _shard_num virtual column
        rows = engine.execute(
            "SELECT hostName() as hostname , _shard_num as shard_num , count(id) as cnt "
            "from sales_d group by hostname, shard_num order by shard_num"
        )
        assert sum(r.cnt for r in rows) == 1000
        assert len({r.shard_num for r in rows}) > 1  # really sharded
    finally:
        engine.execute("DROP TABLE IF EXISTS sales_d")
        engine.execute("DROP TABLE IF EXISTS sales_local10")
        engine._clusters.pop("cluster_4sh1rep", None)


def test_hw14_monitoring_lab_verbatim(engine, tmp_path):
    """homeworks/hw14.md replayed: CREATE TABLE ... engine=MergeTree
    order by tuple() AS system.dashboards (attrs-before-AS schema copy
    from a system view), the MemoryPeak trace_log dashboard query, the
    query_log uniq-tables dashboard query, and the VALUES inserts whose
    string literals embed {rounding:UInt32} placeholders that must stay
    literal."""
    engine.execute("DROP TABLE IF EXISTS dashboards_test")
    engine.execute(
        "create table dashboards_test\nengine=MergeTree\norder by tuple()\nas system.dashboards"
    )
    engine.tables["dashboards_test"].path = str(tmp_path / "dashboards_test")
    try:
        assert engine.table("dashboards_test").columns == ["dashboard", "title", "query"]
        assert engine.table("dashboards_test").count() == 0  # structure only
        # the debug-form dashboard queries run as-is (trace_log is the
        # schema-correct empty profiler stream)
        engine.execute(
            "select toStartOfInterval(event_time, INTERVAL 60 SECOND)::INT AS t, max(size)\n"
            "from system.trace_log \n"
            "where trace_type = 'MemoryPeak' \n"
            "and event_date >= toDate(now() - 86400) and event_date >= toDate(now() - 86400) \n"
            "GROUP BY t\n"
            "ORDER BY t WITH FILL STEP 60"
        )
        rows = engine.execute(
            "select toStartOfInterval(event_time, INTERVAL 60 SECOND)::INT AS t, uniqArray(tables)\n"
            "from system.query_log \n"
            "where type='QueryFinish'\n"
            "and event_date >= toDate(now() - 86400) and event_date >= toDate(now() - 86400) \n"
            "GROUP BY t\n"
            "ORDER BY t WITH FILL STEP 60"
        )
        assert rows  # this session has already logged finished queries
        # VALUES whose strings embed \' escapes and {x:UInt32} params
        engine.execute(
            "insert into dashboards_test\n"
            "values\n"
            "('Overview', 'memory peaks', 'select toStartOfInterval(event_time, "
            "INTERVAL {rounding:UInt32} SECOND)::INT AS t, max(size)\n"
            "from system.trace_log \n"
            "where trace_type = \\'MemoryPeak\\' \n"
            "GROUP BY t\n"
            "ORDER BY t WITH FILL STEP {rounding:UInt32}\n;')"
        )
        stored = engine.sql(
            "SELECT query FROM dashboards_test WHERE title = 'memory peaks'"
        ).collect()[0].query
        assert "{rounding:UInt32}" in stored  # placeholder survived as data
        assert "'MemoryPeak'" in stored  # the \' escape round-tripped
    finally:
        engine.execute("DROP TABLE IF EXISTS dashboards_test")


def test_hw15_profiling_lab_verbatim(engine, tmp_path):
    """homeworks/hw15.md replayed: a Null-engine landing table with two
    MVs fanning into a PK-sorted and an unsorted MergeTree twin, one
    insert feeding both, and the lab's IN-list point query on each —
    the plan for the sorted twin must push the filter into the scan."""
    for tname in ("test_with_pk_mv", "test_without_pk_mv"):
        engine.execute(f"DROP VIEW IF EXISTS {tname}")
    for tname in ("trips15", "test_with_pk", "test_without_pk"):
        engine.execute(f"DROP TABLE IF EXISTS {tname}")
    engine.execute(
        "CREATE TABLE trips15 ( trip_id UInt32, total_amount Float32 ) ENGINE = Null"
    )
    engine.execute(
        "create table test_with_pk ( trip_id UInt32 ) ENGINE = MergeTree order by trip_id"
    )
    engine.tables["test_with_pk"].path = str(tmp_path / "with_pk")
    engine.execute(
        "create materialized view test_with_pk_mv to test_with_pk as "
        "select trip_id from trips15"
    )
    engine.execute(
        "create table test_without_pk ( trip_id UInt32 ) ENGINE = MergeTree order by tuple()"
    )
    engine.tables["test_without_pk"].path = str(tmp_path / "without_pk")
    engine.execute(
        "create materialized view test_without_pk_mv to test_without_pk as "
        "select trip_id from trips15"
    )
    try:
        engine.execute(
            "INSERT INTO trips15 SELECT number AS trip_id, 1.0 AS total_amount "
            "FROM numbers(100000)"
        )
        # Null engine discards; the MVs landed the rows in both twins
        assert engine.sql("select count() AS n from test_with_pk").collect()[0].n == 100000
        assert engine.sql("select count() AS n from test_without_pk").collect()[0].n == 100000
        for tbl in ("test_with_pk", "test_without_pk"):
            n = engine.sql(
                f"select count() AS n from {tbl} where trip_id in (42, 99999)"
            ).collect()[0].n
            assert n == 2
        # the sorted twin's scan carries the pushed IN filter
        plan = engine.sql(
            "select count() from test_with_pk where trip_id in (42, 99999)"
        )._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [In(trip_id" in plan
    finally:
        for tname in ("test_with_pk_mv", "test_without_pk_mv"):
            engine.execute(f"DROP VIEW IF EXISTS {tname}")
        for tname in ("trips15", "test_with_pk", "test_without_pk"):
            engine.execute(f"DROP TABLE IF EXISTS {tname}")


def test_hw04_udf_types_lab_verbatim(engine, tmp_path):
    """homeworks/hw04.md replayed: the transactions table + numbers()
    insert with interval arithmetic, the aggregate sweep, the type
    conversions, and the SQL-lambda UDF lifecycle (create, list in
    system.functions via origin filter, apply scalar and inside an
    aggregate, classify variant, drop)."""
    engine.execute("DROP TABLE IF EXISTS transactions")
    engine.execute(
        "CREATE TABLE transactions ( transaction_id UInt32, user_id UInt32, "
        "product_id UInt32, quantity UInt8, price Float32, transaction_date Date ) "
        "ENGINE = MergeTree() ORDER BY (transaction_id)"
    )
    engine.tables["transactions"].path = str(tmp_path / "transactions")
    try:
        engine.execute(
            "INSERT INTO transactions (transaction_id, user_id, product_id, quantity, price, transaction_date) \n"
            "SELECT \n"
            "    number AS transaction_id, \n"
            "    (number % 100) + 1 AS user_id, \n"
            "    (number % 10) + 1 AS product_id, \n"
            "    (number % 5) + 1 AS quantity, number / 100000.0 AS price, \n"
            "    toDate('2022-01-01') + interval number day AS transaction_date\n"
            "FROM numbers(1000)"
        )
        assert len(engine.execute("select * from transactions limit 5")) == 5
        total = engine.execute("select sum(quantity * price) AS s from transactions")[0].s
        assert total > 0
        uniq = engine.execute("select countDistinct(user_id) AS u from transactions")[0].u
        assert uniq == 100
        row = engine.execute(
            "select year(transaction_date) as `year`, month(transaction_date) as `month`, "
            "toYYYYMM(transaction_date) AS ym, date_trunc('month', transaction_date) AS dt, "
            "ceiling(price) AS cp, toString(transaction_id) AS ts "
            "from transactions order by transaction_id limit 5"
        )[0]
        assert row["year"] == 2022 and row.ym == 202201 and row.ts == "0"
        # UDF lifecycle
        engine.execute("CREATE FUNCTION some_brand_new_func AS (quantity, price) -> quantity * price")
        fns = engine.sql(
            "SELECT name, create_query FROM system.functions WHERE origin = 'SQLUserDefined'"
        ).collect()
        assert any(r.name == "some_brand_new_func" for r in fns)
        got = engine.execute(
            "select transaction_id, some_brand_new_func(quantity, price) AS v "
            "from transactions limit 5"
        )
        assert len(got) == 5
        agg = engine.execute(
            "select transaction_id, sum(some_brand_new_func(quantity, price)) AS s "
            "from transactions group by transaction_id limit 5"
        )
        assert len(agg) == 5
        engine.execute(
            "CREATE FUNCTION some_brand_new_func_classify AS (quantity, price) -> quantity * price > 0.01"
        )
        # the lab writes `classify(...) > 0` because CH booleans are
        # UInt8; Spark booleans are real BOOLEANs, so the predicate is
        # the boolean itself (same semantics, typed dialect)
        hi = engine.execute(
            "select transaction_id, some_brand_new_func_classify(quantity, price) AS c "
            "from transactions where some_brand_new_func_classify(quantity, price) limit 5"
        )
        assert len(hi) == 5 and all(r.c for r in hi)
        engine.execute("DROP FUNCTION some_brand_new_func")
        engine.execute("DROP FUNCTION some_brand_new_func_classify")
    finally:
        engine.execute("DROP TABLE IF EXISTS transactions")


def test_hw17_kafka_lab_verbatim(engine):
    """clusters/ch_and_kafka/db/init.sql replayed statement-for-statement
    (hw17.md's pipeline): four databases, a Kafka-engine source table,
    raw landing enriched with the stream's virtual columns, a parsing MV
    cascade (JSONExtract*), and an outbound Kafka queue fed by a third
    MV. The broker is the file-topic stand-in (no broker in this
    container); the real-broker path is the env-gated streaming test."""
    import json
    import shutil as _shutil

    INIT_SQL = """
drop database if exists streams;
drop database if exists raw;
drop database if exists parsed;
drop database if exists to_kafka;

create database streams;
create database raw;
create database parsed;
create database to_kafka;

CREATE TABLE streams.sensor_data
(
    `message` String
)
ENGINE = Kafka
SETTINGS kafka_broker_list = 'kafka1:9092',
         kafka_topic_list = 'sensor_data',
         kafka_format = 'JSONAsString',
         kafka_group_name = 'ch_consumer'
;

create table if not exists raw.sensor_data_raw
(
    message          String,
    _topic           LowCardinality(String),
    _offset          UInt64,
    _timestamp_ms    DateTime64,
    _partition       UInt8,
    _row_created     DateTime64(3) default now64() comment 'row-created stamp'
)
engine = MergeTree
ORDER BY _timestamp_ms
comment 'raw kafka rows with stream metadata';

CREATE MATERIALIZED VIEW streams.sensor_data_raw_mv
    TO raw.sensor_data_raw
AS
SELECT message,
       _topic,
       _offset,
       _timestamp_ms,
       _partition,
       now64() AS _row_created
FROM streams.sensor_data;

CREATE TABLE parsed.sensor_data (
    sensor_id   UInt32,
    temperature Float,
    humidity    Float,
    `timestamp` UInt64
)
ENGINE = MergeTree()
ORDER BY sensor_id
comment 'parsed kafka rows';

CREATE MATERIALIZED VIEW raw.sensor_data_raw_mv
    TO parsed.sensor_data
AS
SELECT JSONExtractInt(message, 'sensor_id') AS sensor_id,
       JSONExtractFloat(message, 'temperature') AS temperature,
       JSONExtractFloat(message, 'humidity') AS humidity,
       JSONExtractInt(message, 'timestamp') AS timestamp
FROM raw.sensor_data_raw;

CREATE TABLE to_kafka.sensor_data_queue (
    sensor_id   UInt32,
    temperature Float,
    humidity    Float,
    `timestamp` UInt64
)
ENGINE = Kafka('kafka1:9092', 'sensor_data_from_ch', 'clickhouse_out', 'JSONEachRow') settings kafka_thread_per_consumer = 0, kafka_num_consumers = 1
comment 'outbound queue';

CREATE MATERIALIZED VIEW parsed.sensor_data_mv
    TO to_kafka.sensor_data_queue
AS
SELECT sensor_id, temperature, humidity, timestamp
FROM parsed.sensor_data
FORMAT JsonEachRow;
"""
    _shutil.rmtree("spark-warehouse/_kafka", ignore_errors=True)
    try:
        engine.execute_script(INIT_SQL)
        # the lab's producer (src/kafka_producer.py): JSON sensor payloads
        payloads = [
            {"sensor_id": 40 + i, "temperature": 20.0 + i,
             "humidity": 30.0 + i, "timestamp": 1737380108 + i}
            for i in range(5)
        ]
        engine.kafka_produce("sensor_data", [json.dumps(p) for p in payloads])
        block = engine.kafka_poll("streams.sensor_data")
        assert block.count() == 5
        # hw17.md's check query over the raw landing
        rows = engine.execute("SELECT * FROM raw.sensor_data_raw LIMIT 5")
        assert len(rows) == 5
        assert all(r._topic == "sensor_data" for r in rows)
        assert sorted(r._offset for r in rows) == [0, 1, 2, 3, 4]
        assert all(r._row_created is not None for r in rows)
        assert json.loads(rows[0].message)["sensor_id"] in range(40, 45)
        # parsing MV cascade landed typed rows
        got = engine.execute(
            "SELECT sensor_id, temperature, humidity, timestamp "
            "FROM parsed.sensor_data ORDER BY sensor_id"
        )
        assert [(r.sensor_id, r.temperature, r.humidity, int(r.timestamp)) for r in got] == [
            (40 + i, 20.0 + i, 30.0 + i, 1737380108 + i) for i in range(5)
        ]
        # the third MV produced JSONEachRow messages to the out topic
        from otus_clickhouse_spark.streaming.topics import FileTopic

        out = FileTopic("spark-warehouse/_kafka", "sensor_data_from_ch")
        msgs = [json.loads(m) for m in out.messages()]
        assert len(msgs) == 5
        assert set(msgs[0]) == {"sensor_id", "temperature", "humidity", "timestamp"}
        assert {m["sensor_id"] for m in msgs} == {40, 41, 42, 43, 44}
        # incremental: a second producer batch flows through every hop
        engine.kafka_produce(
            "sensor_data", [json.dumps({"sensor_id": 99, "temperature": 9.0,
                                        "humidity": 1.0, "timestamp": 1737380200})]
        )
        block2 = engine.kafka_poll("streams.sensor_data")
        assert block2.count() == 1
        assert block2.first()._offset == 5  # offsets continue, no re-delivery
        assert len(engine.execute("SELECT * FROM raw.sensor_data_raw")) == 6
        assert len(out.messages()) == 6
        assert engine.execute(
            "SELECT count() AS n FROM parsed.sensor_data WHERE sensor_id = 99"
        )[0].n == 1
    finally:
        for db in ("streams", "raw", "parsed", "to_kafka"):
            engine.execute(f"DROP DATABASE IF EXISTS {db}")
        # DROP DATABASE detaches the databases' MVs with their tables
        assert not any(
            k.startswith(("streams__", "raw__", "parsed__", "to_kafka__"))
            for k in engine._mvs
        )
        _shutil.rmtree("spark-warehouse/_kafka", ignore_errors=True)


def test_hw18_superset_dashboard_verbatim(engine, tmp_path):
    """homeworks/hw18.md + scripts/dashboard_export replayed: the
    Superset dashboard's five charts over `menu.menu_item_denorm`
    (the official CH menus dataset shape) re-expressed as the SQL each
    chart issues — big_number_total sum(price), box-plot source group
    (price × menu_dish_count counts), currency pie with the export's
    HAVING count(menu_currency) > 5000, yearly created_at big-number
    with the dish_first_appeared > 1900 filter, and the raw-mode table
    with the ILIKE '%rabbit%' dish filter (charts/*.yaml query_context)."""
    engine.execute("DROP DATABASE IF EXISTS menu")
    try:
        engine.execute("CREATE DATABASE menu")
        engine.execute(
            "CREATE TABLE menu.menu_item_denorm (\n"
            "    price Decimal(18, 3),\n"
            "    dish_id UInt32,\n"
            "    menu_id UInt32,\n"
            "    menu_dish_count UInt16,\n"
            "    dish_first_appeared UInt16,\n"
            "    created_at DateTime,\n"
            "    updated_at DateTime,\n"
            "    menu_currency String,\n"
            "    dish_name String,\n"
            "    dish_description String,\n"
            "    menu_name String,\n"
            "    menu_place String,\n"
            "    menu_location String\n"
            ") ENGINE = MergeTree ORDER BY (menu_id, dish_id)"
        )
        engine.tables["menu__menu_item_denorm"].path = str(tmp_path / "mid")
        # deterministic stand-in for the 1.3M-row NYPL dump (the tgz is
        # not in this container): 12k dishes, two currencies past the
        # pie chart's 5000-count HAVING bar, a sprinkle of rabbit dishes
        engine.execute(
            "INSERT INTO menu.menu_item_denorm SELECT "
            "  toDecimal64(0.25 + number % 40, 3) AS price, "
            "  toUInt32(number) AS dish_id, toUInt32(number % 300) AS menu_id, "
            "  toUInt16(number % 7 + 1) AS menu_dish_count, "
            "  toUInt16(1850 + number % 160) AS dish_first_appeared, "
            "  toDateTime('1970-01-01 00:00:00') + INTERVAL (number % 50) YEAR AS created_at, "
            "  toDateTime('2020-01-01 00:00:00') AS updated_at, "
            "  multiIf(number % 12 < 6, 'Dollars', number % 12 < 11, 'Francs', 'Zlotych') AS menu_currency, "
            "  multiIf(number % 100 = 7, concat('Rabbit stew no.', toString(number)), "
            "          concat('Dish no.', toString(number))) AS dish_name, "
            "  'desc' AS dish_description, concat('Menu ', toString(number % 300)) AS menu_name, "
            "  'NYC' AS menu_place, 'NYPL' AS menu_location "
            "FROM numbers(12000)"
        )
        # chart 4 (sum_price, big_number_total): SQL-metric sum(price)
        total = engine.sql(
            "SELECT sum(price) AS sum_price FROM menu.menu_item_denorm"
        ).collect()[0].sum_price
        assert float(total) == sum(0.25 + i % 40 for i in range(12000))
        # chart 2 (box plot source): count per (menu_dish_count, price)
        box = engine.execute(
            "SELECT menu_dish_count, price, count() AS count "
            "FROM menu.menu_item_denorm GROUP BY menu_dish_count, price "
            "ORDER BY menu_dish_count, price LIMIT 5000"
        )
        assert len(box) == 7 * 40 and all(r["count"] > 0 for r in box)
        # chart 1 (currency pie): HAVING count(menu_currency) > 5000
        pie = engine.execute(
            "SELECT menu_currency, count() AS count FROM menu.menu_item_denorm "
            "GROUP BY menu_currency HAVING count(menu_currency) > 5000 "
            "ORDER BY count DESC LIMIT 100"
        )
        assert [r.menu_currency for r in pie] == ["Dollars"]  # 6000 > 5000 > Francs 5000
        # chart 5 (created_at, P1Y grain + dish_first_appeared > 1900)
        yearly = engine.execute(
            "SELECT toStartOfYear(created_at) AS created_at, count() AS count "
            "FROM menu.menu_item_denorm WHERE dish_first_appeared > 1900 "
            "GROUP BY toStartOfYear(created_at) ORDER BY created_at"
        )
        assert len(yearly) == 50
        assert sum(r["count"] for r in yearly) == sum(1 for i in range(12000) if 1850 + i % 160 > 1900)
        # chart 3 (raw table + ILIKE dish filter)
        rab = engine.execute(
            "SELECT dish_name, dish_description, price, menu_name, menu_place, menu_location "
            "FROM menu.menu_item_denorm WHERE dish_name ILIKE '%rabbit%' LIMIT 1000"
        )
        assert len(rab) == 120 and all("Rabbit" in r.dish_name for r in rab)
    finally:
        engine.execute("DROP DATABASE IF EXISTS menu")


def test_lecture20_cluster_monitoring_verbatim(engine):
    """lecture_20.md:790-843 replayed: the metric_log failure sweep,
    stuck-mutation probe, replication-queue error scan and slow-query
    top-10 run verbatim (clusterAllReplicas/cluster unwrap to the local
    metadata, like a 1-node cluster)."""
    engine.run("SELECT 1 AS warm")  # at least one query_log row
    rows = engine.sql(
        "SELECT\n"
        "    sum(ProfileEvent_FailedQuery),\n"
        "    sum(ProfileEvent_FailedSelectQuery),\n"
        "    sum(ProfileEvent_FailedInsertQuery),\n"
        "    sum(ProfileEvent_ReplicatedPartFailedFetches),\n"
        "    sum(ProfileEvent_ReplicatedPartChecksFailed),\n"
        "    sum(ProfileEvent_DistributedConnectionFailTry),\n"
        "    sum(ProfileEvent_ReplicatedDataLoss)\n"
        "FROM clusterAllReplicas(default, system.metric_log)\n"
        "WHERE event_time > now() - interval 5 minute"
    ).collect()
    assert len(rows) == 1
    assert rows[0][3:] == (0, 0, 0, 0)  # replication failure classes are zero
    got = engine.sql(
        "SELECT table, mutation_id, command, latest_fail_reason\n"
        "FROM cluster(default, system.mutations)\n"
        "WHERE is_done = 0 \n"
        "    AND latest_fail_time > now() - interval 24 hour"
    ).collect()
    assert got == []  # synchronous mutations never sit unfinished
    got = engine.sql(
        "SELECT table, replica_name, node_name, merge_type\n"
        "FROM cluster(default, system.replication_queue)\n"
        "WHERE last_exception is not null \n"
        "    and last_attempt_time > now() - interval 1 hour"
    ).collect()
    assert got == []
    slow = engine.sql(
        "SELECT\n"
        "    _shard_num,\n"
        "    query_start_time,\n"
        "    query_duration_ms,\n"
        "    query,\n"
        "    type,\n"
        "    read_rows,\n"
        "    read_bytes,\n"
        "    memory_usage\n"
        "FROM clusterAllReplicas(default, system.query_log)\n"
        "WHERE exception_code = 0 \n"
        "    and query_start_time > now() - interval 7 day \n"
        "    and type = 'QueryFinish'\n"
        "ORDER BY query_duration_ms desc\n"
        "LIMIT 10\\G"
    ).collect()
    assert 1 <= len(slow) <= 10
    assert all(r._shard_num == 1 and r.query_duration_ms >= 0 for r in slow)


@pytest.mark.skipif(not os.path.exists("/root/reference"), reason="reference not present")
@pytest.mark.slow  # heavy sweep/equivalence proof (r13): round-close suite only
def test_every_reference_system_select_executes(engine):
    """Stronger than the translate sweep: every SELECT in the course
    materials whose FROM targets are exclusively system.* tables (or
    cluster()/clusterAllReplicas() wrappers over them) must EXECUTE —
    these need no user data, so anything short of running rows is a
    parity gap."""
    blocks = []
    for root, _, files in os.walk("/root/reference"):
        for fn in files:
            if not fn.endswith(".md"):
                continue
            text = open(os.path.join(root, fn), encoding="utf-8", errors="ignore").read()
            for m in re.finditer(r"```(?:sql)?\n(.*?)```", text, re.DOTALL):
                for stmt in m.group(1).split(";"):
                    # leading `-- …` comment lines hide the SELECT from the
                    # statement-kind match (lecture_20's merges probe)
                    s = re.sub(r"^(\s*--[^\n]*\n)+", "", stmt).strip()
                    if not re.match(r"(?i)^(SELECT|WITH)\b", s) or len(s) < 20 or "{" in s:
                        continue
                    tbls = re.findall(r"(?i)\bFROM\s+([\w.]+|\w+\s*\()", s)
                    if tbls and all(
                        t.replace(" ", "").startswith(
                            ("system.", "cluster(", "clusterAllReplicas(", "merge(")
                        )
                        for t in tbls
                    ):
                        blocks.append((fn, s))
    assert len(blocks) >= 20  # the harvest itself must keep working
    failures = []
    for fn, s in blocks:
        try:
            engine.sql(s).collect()
        except Exception as exc:  # noqa: BLE001 — collecting parity gaps
            failures.append((fn, str(exc).split("\n")[0][:110], s[:80]))
    assert not failures, failures
