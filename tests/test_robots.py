"""robots.txt parsing + URL gating: RFC 9309 subset semantics and
DuckDB twin parity."""
import duckdb
import pytest

from tests.reference import robots_rules_sql_duckdb
from trefoil_spark.operators.robots import gate_disallowed_urls, parse_robots_rules

ROBOTS = [
    ("a.com",
     "# comment\n"
     "User-agent: *\n"
     "Disallow: /private/\n"
     "Allow: /private/ok/\n"
     "\n"
     "User-agent: evilbot\n"
     "Disallow: /\n"),
    ("b.com",
     "User-agent: goodbot\n"
     "User-agent: otherbot\n"
     "Disallow: /only-good/\n"
     "\n"
     "User-agent: *\n"
     "Disallow: /everyone/\n"),
    ("c.com", "User-agent: *\nDisallow:\n"),  # empty = allow all
]


@pytest.fixture(scope="module")
def robots_df(spark):
    return spark.createDataFrame(ROBOTS, "host string, body string")


def test_rules_wildcard_agent(robots_df):
    rules = {(r["host"], r["allow"], r["prefix"])
             for r in parse_robots_rules(robots_df, agent="*").collect()}
    assert rules == {
        ("a.com", False, "/private/"),
        ("a.com", True, "/private/ok/"),
        ("b.com", False, "/everyone/"),
    }


def test_rules_specific_agent_overrides_star(robots_df):
    rules = {(r["host"], r["allow"], r["prefix"])
             for r in parse_robots_rules(
                 robots_df, agent="GoodBot").collect()}
    # b.com has a goodbot group -> * group ignored there; a.com and
    # c.com have no goodbot group -> fall back to their * groups
    assert rules == {
        ("b.com", False, "/only-good/"),
        ("a.com", False, "/private/"),
        ("a.com", True, "/private/ok/"),
    }


def test_gate_longest_match_allow_wins(robots_df, spark):
    docs = spark.createDataFrame(
        [
            (0, "http://a.com/public/x"),
            (1, "http://a.com/private/secret"),
            (2, "http://a.com/private/ok/fine"),
            (3, "http://b.com/everyone/x"),
            (4, "http://c.com/anything"),
            (5, "http://nofile.org/x"),
        ],
        "doc_id bigint, url string",
    )
    rules = parse_robots_rules(robots_df, agent="*")
    kept = sorted(r["doc_id"]
                  for r in gate_disallowed_urls(docs, rules).collect())
    # 1 blocked (disallow /private/); 2 kept (longer allow wins);
    # 3 blocked; hosts without robots (or with empty disallow) pass
    assert kept == [0, 2, 4, 5]


def test_duckdb_twin(robots_df, tmp_path):
    p = str(tmp_path / "robots.parquet")
    robots_df.write.parquet(p)
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW r AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    for agent in ("*", "goodbot"):
        oracle = {
            (r[0], r[1], r[2])
            for r in con.sql(robots_rules_sql_duckdb("r", agent)).fetchall()
        }
        got = {
            (r["host"], r["allow"], r["prefix"])
            for r in parse_robots_rules(robots_df, agent=agent).collect()
        }
        assert got == oracle, agent
