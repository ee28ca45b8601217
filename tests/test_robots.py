"""RFC 9309 robots.txt parsing + the broadcast compliance filter."""

import pytest

from xapian_spark.pipeline.robots import (
    _pattern_regex, parse_robots, robots_filter, robots_rules,
)

BODY = """
# politeness file
User-agent: GoogleBot
Disallow: /private

User-agent: *
User-agent: otherbot
Disallow: /d1
Allow: /d12
Disallow: *9$
Disallow:
Crawl-delay: 10
"""


def test_group_selection():
    assert parse_robots(BODY) == [
        (False, "/d1"), (True, "/d12"), (False, "*9$")]
    assert parse_robots(BODY, "googlebot") == [(False, "/private")]
    assert parse_robots(BODY, "GOOGLEBOT") == [(False, "/private")]
    assert parse_robots(BODY, "otherbot") == parse_robots(BODY)
    assert parse_robots(BODY, "unknown") == parse_robots(BODY)
    assert parse_robots("") == []
    assert parse_robots("User-agent: *\nDisallow:\n") == []


def test_matching_groups_merge():
    """RFC 9309 §2.2.1: every group matching the agent merges — two
    separate ``*`` groups both apply, and exact-token groups merge
    (and still win over ``*``)."""
    body = ("User-agent: *\nDisallow: /a\n\n"
            "User-agent: bot\nDisallow: /b\n\n"
            "User-agent: *\nDisallow: /c\n\n"
            "User-agent: BOT\nAllow: /b/ok\n")
    assert parse_robots(body) == [(False, "/a"), (False, "/c")]
    assert parse_robots(body, "bot") == [(False, "/b"), (True, "/b/ok")]
    assert parse_robots(body, "other") == parse_robots(body)


def test_pattern_regex():
    import re

    assert re.match(_pattern_regex("/d1"), "/d10/deep")
    assert not re.match(_pattern_regex("/d1"), "/x/d1")
    assert re.match(_pattern_regex("*9$"), "/d19")
    assert not re.match(_pattern_regex("*9$"), "/d191")
    assert re.match(_pattern_regex("/a*b$"), "/aXYZb")
    assert re.match(_pattern_regex("/p?x=*"), "/p?x=1")  # ? literal
    assert not re.match(_pattern_regex("/p?x=*"), "/pAx=1")


@pytest.fixture(scope="module")
def verdicts(spark):
    import pandas as pd

    pages = spark.createDataFrame(
        [(f"http://ex.org/d{i}",) for i in range(200)]
        + [("http://norules.net/d19",)], "url string")
    robots = spark.createDataFrame(pd.DataFrame({
        "host": ["ex.org"],
        "content": [BODY.encode()]}))
    rules = robots_rules(robots)
    out = robots_filter(pages, rules, keep_col="keep")
    return {r["url"]: r["keep"] for r in out.collect()}


def test_filter_verdicts(verdicts):
    v = verdicts
    assert len(v) == 201
    assert v["http://norules.net/d19"] is True  # host without rules
    assert v["http://ex.org/d0"] is True
    assert v["http://ex.org/d1"] is False       # /d1 disallow
    assert v["http://ex.org/d10"] is False
    assert v["http://ex.org/d12"] is True       # longer Allow wins
    assert v["http://ex.org/d120"] is True
    assert v["http://ex.org/d9"] is False       # *9$ wildcard
    assert v["http://ex.org/d29"] is False
    assert v["http://ex.org/d19"] is False      # both disallows
    assert v["http://ex.org/d129"] is True      # allow(4) > *9$(3)
    assert v["http://ex.org/d90"] is True       # 9 not at end


def test_filter_mode_drops_rows(spark):
    import pandas as pd

    pages = spark.createDataFrame(
        [(f"http://ex.org/d{i}",) for i in (0, 1, 12, 9)],
        "url string")
    robots = spark.createDataFrame(pd.DataFrame({
        "host": ["ex.org"], "content": [BODY.encode()]}))
    kept = {r["url"] for r in
            robots_filter(pages, robots_rules(robots)).collect()}
    assert kept == {"http://ex.org/d0", "http://ex.org/d12"}
