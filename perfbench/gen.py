"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the same
rows, byte for byte. Inputs are written to files so that the program under
test only ever sees generated files (parquet pages tables and gzip-member
WARC segments), never benchmark objects.

The page mix is stratified: every seed gives the same multiset of document
sizes, languages, URL shapes and page kinds, and the seed decides content
and which page gets which. Different seeds then differ in content, not in
how much work they hold.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics

import pyarrow as pa
import pyarrow.parquet as pq

from linguistjs_spark.sources.pages import generate_pages
from linguistjs_spark.sources.warc import build_warc_segment

EPOCH = dt.datetime(2026, 1, 1)

PAGES_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

# Prose vocabularies: each starts with the stopwords the langid stage counts,
# then content words, so generated prose is recognisable but not repetitive.
VOCAB = {
    "en": "the and of to in is that for with was are this have from not they "
    "all data city river market school report people season music model "
    "garden history family policy travel energy science review network",
    "es": "que los las una por con para como pero mas sus este esta entre "
    "cuando muy sobre ciudad datos mercado escuela historia familia viaje "
    "energia ciencia musica temporada red jardin politica informe gente",
    "de": "der die und den von das mit sich des auf ist nicht ein eine als "
    "auch werden aus wurde sind stadt daten markt schule bericht menschen "
    "geschichte familie reise energie wissenschaft garten netz politik",
    "fr": "les des est une que dans pour pas par sur qui avec plus sont ville "
    "donnees marche ecole rapport histoire famille voyage energie science "
    "musique saison reseau jardin politique gens modele",
    "ru": "и в не на что с по это как из для от быть город данные рынок "
    "школа отчет люди история семья путешествие энергия наука музыка сеть",
}
ZH_CHARS = "的一是在不了有和人这中大为上个国我以要他时来用们生到作地于出就分对成会可主发年动"
LANG_WEIGHTS = [("en", 40), ("es", 13), ("de", 13), ("fr", 13), ("ru", 11), ("zh", 10)]
TOXIC = ["shit", "bullshit", "fucking", "bastard"]
GIBBERISH = "qxzj#@%&*~^|<>0123456789ÿþ¤§¶"

# URL path shapes a crawl sees: article pages, query strings, index files,
# plus a minority of source files, vendored trees and binary assets so the
# path filters and the classify cascade have real work.
WEB_PATHS = [
    "news/{y}/{m:02d}/{slug}.html",
    "blog/{slug}",
    "index.php?p={n}",
    "a/{slug}/index.html",
    "docs/{slug}.md",
    "wiki/{slug}",
    "forum/thread-{n}.txt",
    "static/js/{slug}.js",
    "src/{slug}.py",
    "node_modules/{slug}/index.js",
    "img/{slug}.png",
]
WEB_PATH_WEIGHTS = [22, 18, 10, 10, 8, 10, 8, 5, 4, 3, 2]
SHEBANG = {".py": "#!/usr/bin/env python3\n", ".js": "#!/usr/bin/env node\n"}


def _prose(rng: random.Random, lang: str, nbytes: int) -> str:
    if lang == "zh":
        return "".join(rng.choice(ZH_CHARS) for _ in range(max(1, nbytes // 3)))
    words = VOCAB[lang].split()
    out: list[str] = []
    size = 0
    while size < nbytes:
        sent = " ".join(rng.choice(words) for _ in range(rng.randint(6, 16)))
        out.append(sent)
        size += len(sent.encode("utf-8")) + 2
    return ". ".join(out) + "."


# Page kinds and their shares; the rest is plain prose
KIND_WEIGHTS = [("pii", 6), ("toxic", 3), ("boilerplate", 4), ("gibberish", 3),
                ("binary", 1), ("prose", 83)]


def _stratified(rng: random.Random, weighted: list, n: int) -> list:
    """``n`` values in proportion to their weights, in seeded order."""
    total = sum(w for _, w in weighted)
    out, acc = [], 0
    for value, w in weighted:
        k = round((acc + w) * n / total) - round(acc * n / total)
        out += [value] * k
        acc += w
    rng.shuffle(out)
    return out


def doc_sizes(rng: random.Random, n: int) -> list[int]:
    """Heavy-tailed sizes: the n quantiles of a lognormal around ~1.1 KB,
    clipped to 400 B .. 48 KB, in seeded order."""
    dist = statistics.NormalDist(7.0, 0.9)
    sizes = [int(min(48_000, max(400, 2.718281828459045 ** dist.inv_cdf((i + 0.5) / n))))
             for i in range(n)]
    rng.shuffle(sizes)
    return sizes


def web_page(rng: random.Random, i: int, lang: str, shape: str, kind: str,
             size: int, host_count: int = 97) -> tuple:
    """One Common-Crawl-shaped page row ``(url, ts, html, text, lang)``."""
    slug = "-".join(rng.choice(VOCAB["en"].split()[16:]) for _ in range(3)) + f"-{i}"
    path = shape.format(y=2020 + i % 6, m=1 + i % 12, slug=slug, n=i)
    url = f"https://site{rng.randrange(host_count)}.example/{path}"
    text = _prose(rng, lang, size)
    if kind == "pii":
        text += f" contact user{i}@mail.example or +1 (555) 013-{i % 10000:04d} from 10.0.{i % 256}.7"
    elif kind == "toxic":
        text = " ".join(rng.choice(TOXIC) if rng.random() < 0.3 else w for w in text.split(" "))
    elif kind == "boilerplate":  # duplicated navigation lines
        text = "\n".join(["home | about | contact | login"] * max(20, size // 31))
    elif kind == "gibberish":  # high perplexity
        text = "".join(rng.choice(GIBBERISH) for _ in range(size))
    if shape.endswith((".py", ".js")):  # raw scripts: the classify slow path
        text = SHEBANG[shape[-3:]] + text
    html = text.encode("utf-8")
    if shape.endswith(".png") or kind == "binary":  # NUL-binary payloads
        html = b"\x89PNG\r\n\x1a\n\x00\x00" + html[:200]
    return (url, EPOCH + dt.timedelta(seconds=i), html, text, lang)


def web_pages(seed: int, n: int) -> list[tuple]:
    rng = random.Random(seed)
    langs = _stratified(rng, LANG_WEIGHTS, n)
    shapes = _stratified(rng, list(zip(WEB_PATHS, WEB_PATH_WEIGHTS)), n)
    kinds = _stratified(rng, KIND_WEIGHTS, n)
    sizes = doc_sizes(rng, n)
    return [web_page(rng, i, langs[i], shapes[i], kinds[i], sizes[i]) for i in range(n)]


def write_pages(rows: list[tuple], path: str) -> None:
    cols = list(zip(*rows))
    table = pa.table(
        {f.name: pa.array(c, type=f.type) for f, c in zip(PAGES_ARROW_SCHEMA, cols)},
        schema=PAGES_ARROW_SCHEMA,
    )
    pq.write_table(table, path, row_group_size=128)


def repo_files(seed: int, repo: int, n_files: int) -> list[tuple]:
    """One repository's files: the program's own seeded page mix (reference
    seed cases, override rows, binaries, bulk cycled rows) re-homed under a
    per-repository host."""
    rows = generate_pages(n_bulk=max(0, n_files - 56), seed=seed * 1009 + repo)
    return [
        (url.replace("https://", f"https://repo{repo}.", 1), ts, html, text, lang)
        for url, ts, html, text, lang in rows
    ]


def html_page(row: tuple) -> tuple:
    """Wrap a page's text in a small HTML document with boilerplate markup;
    the crawl path must extract the text back out."""
    url, ts, html, text, _ = row
    if b"\x00" in html[:1024]:
        return url, ts, html
    paras = "".join(f"<p>{p}</p>" for p in text.split(". "))
    body = (
        "<html><head><title>page</title><style>p{margin:0}</style>"
        "<script>var t=1;</script></head><body><nav>home &amp; about</nav>"
        f"<!-- main -->{paras}<footer>&copy; site</footer></body></html>"
    )
    return url, ts, body.encode("utf-8")


def deal(rows: list[tuple], n_files: int) -> list[list[tuple]]:
    """Split rows over ``n_files`` files with near-equal text bytes: largest
    row first, each into the file with the fewest bytes so far (the lowest
    index on a tie). Tasks read whole files (a WARC segment is one task;
    Spark packs small parquet files into about one task per core), and a
    job waits for its slowest task, so balanced files keep a seed's
    heavy-tailed sizes from setting the job time. Each file keeps its rows
    in input order."""
    order = sorted(range(len(rows)), key=lambda i: (-len(rows[i][3]), i))
    files: list[list[int]] = [[] for _ in range(n_files)]
    load = [0] * n_files
    for i in order:
        k = min(range(n_files), key=lambda f: (load[f], f))
        files[k].append(i)
        load[k] += len(rows[i][3])
    return [[rows[i] for i in sorted(f)] for f in files]


def write_warc_dir(rows: list[tuple], out_dir: str, n_segments: int) -> None:
    """Gzip-member WARC segments, rows dealt over segments by ``deal``."""
    os.makedirs(out_dir, exist_ok=True)
    for s, part in enumerate(deal(rows, n_segments)):
        seg = [html_page(r) for r in part]
        with open(os.path.join(out_dir, f"seg-{s:03d}.warc.gz"), "wb") as f:
            f.write(build_warc_segment(seg, gzip_members=True))
