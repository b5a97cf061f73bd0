"""The Python restatement of ``language_rollup`` that checks every job."""

from workloads import python_rollup, rollup_digest


def _row(url, keep, lang, nbytes, lines=(None, None, None)):
    total, content, code = lines
    return {"url": url, "keep": keep, "scrubbed_text": None, "lang": lang,
            "bytes": nbytes, "lines_total": total, "lines_content": content,
            "lines_code": code}


def test_sums_kept_docs_with_a_language_only():
    rows = [
        _row("a", True, "Python", 10, (3, 2, 1)),
        _row("b", True, "Python", 5, (1, 1, 1)),
        _row("c", False, "Python", 99, (9, 9, 9)),  # dropped
        _row("d", True, None, 7, (1, 1, 1)),  # unknown language
        _row("e", True, "Text", 4, (2, 2, 0)),
    ]
    got = {r["lang"]: r for r in python_rollup(rows)}
    assert set(got) == {"Python", "Text"}
    assert got["Python"] == {
        "lang": "Python", "bytes": 15, "lines_total": 4, "lines_content": 3,
        "lines_code": 2, "n_docs": 2, "type": "programming", "color": "#3572A5",
    }
    assert got["Text"]["n_docs"] == 1 and got["Text"]["type"] == "prose"


def test_null_sums_follow_sql():
    # SUM skips nulls; a sum over nulls only is null
    rows = [_row("a", True, "Python", 10), _row("b", True, "Python", None, (2, 1, 0))]
    (r,) = python_rollup(rows)
    assert r["bytes"] == 10 and r["lines_total"] == 2 and r["n_docs"] == 2
    (r,) = python_rollup([_row("a", True, "Python", 10)])
    assert r["lines_total"] is None


def test_language_without_color_gets_null():
    (r,) = python_rollup([_row("a", True, "ABNF", 1)])
    assert r["color"] is None


def test_digest_ignores_row_order():
    rows = python_rollup([_row("a", True, "Python", 1), _row("b", True, "Text", 2)])
    assert rollup_digest(rows) == rollup_digest(rows[::-1])
    assert rollup_digest(rows) != rollup_digest(rows[:1])
