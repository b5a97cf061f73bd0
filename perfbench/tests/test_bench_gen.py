from gen import deal, doc_sizes, web_pages


def _rows(sizes):
    return [(f"u{i}", None, b"", "x" * n, "en") for i, n in enumerate(sizes)]


def test_deal_places_every_row_once_in_input_order():
    rows = _rows([5, 1, 9, 3, 7, 2, 8])
    files = deal(rows, 3)
    assert sorted(r[0] for f in files for r in f) == sorted(r[0] for r in rows)
    for f in files:
        idx = [rows.index(r) for r in f]
        assert idx == sorted(idx)


def test_deal_largest_first_into_lightest_file():
    # 9->0, 8->1, 7->2, 5->2 (7), 3->1 (8), 2->0 (9), 1->0 (11, a tie)
    files = deal(_rows([5, 1, 9, 3, 7, 2, 8]), 3)
    assert [sorted(len(r[3]) for r in f) for f in files] == [[1, 2, 9], [3, 8], [5, 7]]


def test_deal_balances_heavy_tailed_sizes():
    import random

    rows = _rows(doc_sizes(random.Random(7), 1000))
    totals = [sum(len(r[3]) for r in f) for f in deal(rows, 4)]
    assert max(totals) / min(totals) < 1.01
    naive = [sum(len(r[3]) for r in rows[k::4]) for k in range(4)]
    assert max(naive) - min(naive) > max(totals) - min(totals)


def test_web_pages_same_seed_same_rows():
    assert web_pages(3, 40) == web_pages(3, 40)
    assert web_pages(3, 40) != web_pages(4, 40)
