"""The benchmark's reference RFC 9309 matcher on the RFC's own examples."""

from crawlbench.robots_rules import TEMPLATES, is_allowed, robots_bodies, rules_for


def _allowed(body: str, path: str) -> bool:
    return is_allowed(rules_for(body), "https://host1.example.org" + path)


def test_longest_match_wins_and_allow_wins_ties():
    body = "User-agent: *\nDisallow: /p/1\nAllow: /p/12\n"
    assert not _allowed(body, "/p/1")
    assert not _allowed(body, "/p/19")
    assert _allowed(body, "/p/123")
    tie = "User-agent: *\nDisallow: /p/\nAllow: /p/\n"
    assert _allowed(tie, "/p/5")


def test_wildcard_and_end_anchor():
    body = "User-agent: *\nDisallow: /p/*3$\n"
    assert not _allowed(body, "/p/13")
    assert _allowed(body, "/p/134")
    assert not _allowed("User-agent: *\nDisallow: /p/4*0\n", "/p/4100")


def test_group_selection_and_empty_disallow():
    body = "User-agent: otherbot\nDisallow: /\n\nUser-agent: *\nDisallow: /x\n"
    assert _allowed(body, "/p/1")
    assert not is_allowed(rules_for(body, "otherbot"), "https://h.example.org/p/1")
    assert _allowed("User-agent: *\nDisallow:\n", "/anything")
    assert _allowed("", "/p/1")


def test_rotation_assigns_every_template():
    bodies = robots_bodies(len(TEMPLATES), rotation=2)
    assert sorted(b for _, b in bodies) == sorted(TEMPLATES)
    assert bodies[0] == ("host0.example.org", TEMPLATES[2])
