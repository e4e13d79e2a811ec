"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``: the same pair gives
byte-identical files (checked by ``selftest.py``). Nothing here imports
Spark or the package under test, so the inputs do not move when the
program changes.

Workload inputs, written as parquet with pyarrow:

- ``web_kg``     HTML pages (url, lang, html) plus a few-thousand-row
                 ontology (tag, keyword, category) with shared aliases.
                 The pages are the batch leg's scan partitions; the first
                 of them are written again as many small files, the
                 streaming leg's input, one file per epoch.
- ``plain_dedup`` two plain-text inputs. ``docs/``: ASCII word bags
                 (doc_id, text, lang) shaped like the ``bench.py``
                 corpus, tagged against the package's demo ontology.
                 ``crawl/``: near-duplicate multi-line pages (doc_id
                 string, text) built from templates; one template is
                 shared by more pages than ``minhash_candidate_pairs``'s
                 bucket cap.
"""

from __future__ import annotations

import json
import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("web_kg", "plain_dedup")

# input sizes: one job processes this many documents of each input
WEB_KG_PAGES = 200
PLAIN_TAG_DOCS = 4000
CRAWL_DEDUP_DOCS = 1300

# inputs are split into this many files (scan partitions)
INPUT_FILES = 4
# web_kg's streaming leg reads the first STREAM_FILES * STREAM_FILE_PAGES
# pages again from small files, one file per epoch
STREAM_FILES = 4
STREAM_FILE_PAGES = 15

# set-up runs one job over a small copy of the inputs in this
# subdirectory: the same files and layout, one row per file
WARM_DIR = "warm"

# the template shared by more pages than the default bucket cap (1000)
HEAVY_TEMPLATE_PAGES = 1150

WEB_LANGS = (("en", 0.50), ("de", 0.15), ("fr", 0.15), ("es", 0.10), ("zh", 0.10))
PLAIN_LANGS = ("en", "de", "zh", "fr", "es")
# the bench.py corpus vocabulary: lowercase ASCII words
PLAIN_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column order group join small customer query "
    "filter stream big vector"
).split()
ZH_WORDS = (
    "我们 你们 他们 大家 自己 什么 怎么 这里 那里 这个 那个 可以 没有 知道 "
    "认识 明白 理解 觉得 认为 希望 喜欢 需要 应该 必须 可能 能够 生命 起源 "
    "研究 大学 学生 中国 北京 上海 城市 国家 世界 经济 公司 市场 数据 系统 "
    "技术 网络 信息 服务 工作 时间 问题 方法 发展 社会 文化 历史 科学 教育"
).split()
EMOJI = ("👍", "🚀", "😀", "🔥", "✅", "🇫🇷")
ACCENTED = ("é", "è", "ü", "ö", "ñ", "ç", "à", "ô")

# "plain words" input property: a document of ASCII-alnum words joined by
# single spaces, the shape the tagging kernel's fast path accepts
PLAIN_WORDS_RE = re.compile(r"[A-Za-z0-9]+(?: [A-Za-z0-9]+)*")


def _rng(workload: str, seed: int, part: str = "") -> random.Random:
    # string seeds hash with SHA-512 inside random.Random: stable across
    # processes and Python builds, unlike hash()
    return random.Random(f"{workload}:{seed}:{part}")


# --- web pages ------------------------------------------------------------

def _vocabulary(rng: random.Random, n: int) -> list[str]:
    onsets = list("bcdfghklmnprstvz") + ["br", "st", "tr", "ch", "sch"]
    vowels = list("aeiou") + ["ei", "au"]
    words: set[str] = set()
    while len(words) < n:
        w = "".join(
            rng.choice(onsets) + rng.choice(vowels) for _ in range(rng.randint(1, 3))
        )
        if rng.random() < 0.08:  # accented variant
            i = rng.randrange(len(w))
            w = w[:i] + rng.choice(ACCENTED) + w[i + 1:]
        words.add(w)
    return sorted(words)


def web_ontology(seed: int, vocab: list[str]) -> list[tuple[str, str, str]]:
    """~3000 (tag, keyword, category) rows over the page vocabulary.

    A tag carries 1-3 keywords; about one keyword in ten is also an alias of
    a second tag, so the alias graph has non-trivial components."""
    rng = _rng("ontology", seed)
    cats = ("person", "place", "org", "topic", "product")
    rows: list[tuple[str, str, str]] = []
    keywords: list[str] = []
    seen: set[str] = set()
    for t in range(1600):
        tag = f"T{t:04d}_{rng.choice(vocab)}"
        cat = rng.choice(cats)
        for _ in range(rng.choice((1, 1, 2, 3))):
            if keywords and rng.random() < 0.1:
                kw = rng.choice(keywords)  # shared alias
            elif rng.random() < 0.08:
                kw = rng.choice(ZH_WORDS) + rng.choice(ZH_WORDS)
            else:
                kw = " ".join(rng.choice(vocab[300:2500]) for _ in range(rng.choice((1, 2, 2, 3))))
                if rng.random() < 0.3:
                    kw = kw.capitalize()
            if kw not in seen:
                seen.add(kw)
                keywords.append(kw)
            rows.append((tag, kw, cat))
    return rows


class _PageMaker:
    """Synthetic web pages: per-domain nav/footer boilerplate around
    article paragraphs with punctuation, accents, emoji, numbers, entity
    references and ontology keywords; a CJK share in ``zh`` pages."""

    def __init__(self, seed: int):
        rng = _rng("web", seed, "site")
        self.vocab = _vocabulary(rng, 4000)
        cum, acc = [], 0.0
        for i in range(len(self.vocab)):
            acc += 1.0 / (i + 10)  # Zipf-like word frequencies
            cum.append(acc)
        self.cum_weights = cum
        self.ontology = web_ontology(seed, self.vocab)
        self.latin_kws = [k for _t, k, _c in self.ontology if k.isascii() or not _is_cjk(k[0])]
        self.domains = []
        for d in range(60):
            name = f"{rng.choice(self.vocab)}{d}.example.{rng.choice(('com', 'org', 'net', 'de', 'fr'))}"
            nav = [
                " | ".join(rng.choice(self.vocab).capitalize() for _ in range(rng.randint(3, 6)))
                for _ in range(rng.randint(2, 4))
            ]
            footer = [
                f"© 2024 {name} — {rng.choice(self.vocab).capitalize()} & Co. All rights reserved.",
                f"Contact: info@{name} · Impressum · Datenschutz",
            ]
            self.domains.append((name, nav, footer))
        self.domain_cum = []
        acc = 0.0
        for i in range(len(self.domains)):
            acc += 1.0 / (i + 1)
            self.domain_cum.append(acc)

    def _sentence(self, rng: random.Random, lang: str) -> str:
        if lang == "zh":
            n = rng.randint(6, 16)
            words = [rng.choice(ZH_WORDS) for _ in range(n)]
            if rng.random() < 0.5:
                words.insert(rng.randrange(n), rng.choice(self.ontology)[1])
            return "".join(words) + rng.choice(("。", "！", "？", "，" + rng.choice(ZH_WORDS) + "。"))
        n = rng.randint(6, 18)
        words = rng.choices(self.vocab, cum_weights=self.cum_weights, k=n)
        if rng.random() < 0.5:
            words[rng.randrange(n)] = rng.choice(self.latin_kws)
        if rng.random() < 0.2:
            words[rng.randrange(n)] = f"{rng.randint(1, 99)}.{rng.randint(0, 9)}%"
        if rng.random() < 0.3:
            i = rng.randrange(n - 1)
            words[i] = words[i] + ","
        if rng.random() < 0.1:
            i = rng.randrange(n - 2)
            words[i] = '"' + words[i]
            words[i + 1] = words[i + 1] + '"'
        if rng.random() < 0.08:
            words.append(rng.choice(EMOJI))
        words[0] = words[0].capitalize()
        return " ".join(words) + rng.choice((".", ".", ".", "!", "?", "…"))

    def page(self, rng: random.Random, idx: int, lang: str) -> tuple[str, str, bytes, list[str]]:
        """One page in ``lang``: (url, lang, html, visible lines)."""
        name, nav, footer = rng.choices(self.domains, cum_weights=self.domain_cum)[0]
        url = f"https://{name}/{lang}/{idx:07d}"
        title = self._sentence(rng, lang).rstrip(".!?…。！？")
        paras = [
            " ".join(self._sentence(rng, lang) for _ in range(rng.randint(1, 4)))
            for _ in range(rng.randint(2, 7))
        ]
        lines = nav + [title] + paras + footer
        esc = lambda s: s.replace("&", "&amp;").replace("<", "&lt;")  # noqa: E731
        body = (
            "<nav><ul>" + "".join(f"<li>{esc(x)}</li>" for x in nav) + "</ul></nav>"
            f"<article><h1>{esc(title)}</h1>"
            + "".join(f"<p>{esc(p)}</p>" for p in paras)
            + "</article><footer>"
            + "".join(f"<p>{esc(x)}</p>" for x in footer)
            + "</footer>"
        )
        html = (
            f"<!DOCTYPE html><html lang=\"{lang}\"><head><title>{esc(title)}</title>"
            "<style>body{margin:0}</style></head><body>"
            f"{body}<script>window.dataLayer=[{idx}];</script></body></html>"
        )
        return url, lang, html.encode("utf-8"), lines


def _is_cjk(ch: str) -> bool:
    return 0x4E00 <= ord(ch) <= 0x9FFF


def web_pages(seed: int, n: int, part: str = "pages") -> tuple[list[tuple], list[tuple], list[list[str]]]:
    """``n`` pages for ``seed``: (rows, ontology rows, visible lines)."""
    maker = _PageMaker(seed)
    rng = _rng("web", seed, part)
    # exact language shares, shuffled: zh pages cost several times more
    # per character, so a share that drifts with the seed moves job time
    langs = [l for l, share in WEB_LANGS for _ in range(round(share * n))]
    langs += ["en"] * (n - len(langs))
    rng.shuffle(langs)
    rows, lines = [], []
    for i in range(n):
        url, lang, html, ls = maker.page(rng, i, langs[i])
        rows.append((url, lang, html))
        lines.append(ls)
    return rows, maker.ontology, lines


# --- plain word bags ------------------------------------------------------

def plain_docs(seed: int, n: int) -> list[tuple[int, str, str]]:
    rng = _rng("plain_tag", seed)
    out = []
    for i in range(n):
        k = rng.randint(8, 90)
        out.append((i, " ".join(rng.choices(PLAIN_VOCAB, k=k)), PLAIN_LANGS[i % len(PLAIN_LANGS)]))
    return out


# --- near-duplicate crawl -------------------------------------------------

def dedup_docs(seed: int, n: int) -> tuple[list[tuple[str, str]], dict]:
    """Template-grouped near-duplicate pages with string ids.

    Group sizes vary from singletons to one heavy template of
    ``HEAVY_TEMPLATE_PAGES`` pages. Each member copies its template's
    lines, changes one word in one line, adds one line of its own and a
    per-group footer line, so exact line repeats exist across documents for
    ``line_dedup``. Only one page in five of the heavy template changes a
    word and none adds a line of its own: nearly all of its pages then
    share every LSH band, and its buckets stay well above the cap instead
    of just below it, where the pair step would be quadratic."""
    rng = _rng("crawl_dedup", seed)
    vocab = _vocabulary(_rng("crawl_dedup", seed, "vocab"), 3000)
    # the same group sizes for every seed: the number of component rounds
    # in cluster_dedup follows the group structure, which would otherwise
    # move job time from seed to seed
    sizes = [HEAVY_TEMPLATE_PAGES]
    total = HEAVY_TEMPLATE_PAGES
    cycle = (1, 1, 1, 2, 2, 3, 4, 5, 8, 12, 20, 40)
    while total < n:
        s = min(n - total, cycle[len(sizes) % len(cycle)])
        sizes.append(s)
        total += s
    docs: list[tuple[str, int]] = []
    for g, size in enumerate(sizes):
        # the heavy template is most of the corpus: a fixed shape keeps the
        # corpus size the same from seed to seed
        shape = [9] * 8 if g == 0 else [rng.randint(6, 12) for _ in range(rng.randint(6, 10))]
        template = [" ".join(rng.choices(vocab, k=k)) for k in shape]
        shared_footer = f"group footer {g} " + " ".join(rng.choices(vocab, k=4))
        for _ in range(size):
            lines = list(template)
            if g or rng.random() < 0.2:
                li = rng.randrange(len(lines))
                words = lines[li].split(" ")
                words[rng.randrange(len(words))] = rng.choice(vocab)
                lines[li] = " ".join(words)
            if g:
                lines.append(" ".join(rng.choices(vocab, k=rng.randint(6, 12))))
            lines.append(shared_footer)
            docs.append(("\n".join(lines), g))
    rng.shuffle(docs)
    rows = []
    groups: dict[int, list[str]] = {}
    for i, (text, g) in enumerate(docs):
        doc_id = f"page-{rng.randrange(16**6):06x}-{i:05d}"
        rows.append((doc_id, text))
        groups.setdefault(g, []).append(doc_id)
    truth = {"heavy_group": sorted(groups[0]), "group_sizes": sorted(sizes, reverse=True)}
    return rows, truth


# --- input properties -----------------------------------------------------

def repeated_line_share(docs_lines) -> float:
    """Share of lines that repeat an earlier line of the corpus."""
    seen: set[str] = set()
    total = rep = 0
    for lines in docs_lines:
        for line in lines:
            total += 1
            if line in seen:
                rep += 1
            else:
                seen.add(line)
    return rep / total if total else 0.0


def fast_path_share(texts) -> float:
    """Share of documents whose line-cleaned text is plain words."""
    n = hits = 0
    for t in texts:
        n += 1
        clean = "\n".join(x.strip() for x in (t or "").splitlines() if x.strip())
        hits += bool(clean) and PLAIN_WORDS_RE.fullmatch(clean) is not None
    return hits / n if n else 0.0


def _lang_shares(langs) -> dict[str, float]:
    langs = list(langs)
    return {
        f"input.lang_share.{l}": sum(1 for x in langs if x == l) / len(langs)
        for l in ("en", "de", "fr", "es", "zh")
    }


# --- writing --------------------------------------------------------------

def _write(table: pa.Table, path: str) -> None:
    # fixed writer settings: byte-identical files for identical tables
    pq.write_table(table, path, compression="snappy", write_statistics=False,
                   use_dictionary=False)


def _write_parts(table: pa.Table, path: str, n_files: int = INPUT_FILES,
                 warm_files: int = INPUT_FILES) -> None:
    """Split ``table`` into ``n_files`` parquet files under directory
    ``path``, so that the scan has several input partitions; write the
    first row of each of the first ``warm_files`` files to the same path
    under ``WARM_DIR``."""
    os.makedirs(path, exist_ok=True)
    root, name = os.path.split(path)
    warm = os.path.join(root, WARM_DIR, name)
    os.makedirs(warm, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for f in range(n_files):
        part = table.slice(f * step, step)
        _write(part, os.path.join(path, f"part-{f:05d}.parquet"))
        if f < warm_files:
            _write(part.slice(0, 1), os.path.join(warm, f"part-{f:05d}.parquet"))


def _pages_table(rows) -> pa.Table:
    return pa.table(
        {
            "url": pa.array([r[0] for r in rows], pa.string()),
            "lang": pa.array([r[1] for r in rows], pa.string()),
            "html": pa.array([r[2] for r in rows], pa.binary()),
        }
    )


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``out_dir``; return
    the input properties (``input.*`` metrics plus file names)."""
    os.makedirs(out_dir, exist_ok=True)
    props: dict = {"workload": workload, "seed": seed}
    if workload == "web_kg":
        n = WEB_KG_PAGES
        rows, onto, lines = web_pages(seed, n, part=workload)
        _write_parts(_pages_table(rows), os.path.join(out_dir, "pages"))
        _write_parts(_pages_table(rows[:STREAM_FILES * STREAM_FILE_PAGES]),
                     os.path.join(out_dir, "stream"), STREAM_FILES, warm_files=1)
        _write(
            pa.table({
                "tag": [r[0] for r in onto],
                "keyword": [r[1] for r in onto],
                "category": [r[2] for r in onto],
            }),
            os.path.join(out_dir, "ontology.parquet"),
        )
        props.update(_lang_shares(r[1] for r in rows))
        props["input.docs"] = n
        props["input.mchars"] = sum(len(r[2]) for r in rows) / 1e6
        props["input.repeated_line_share"] = repeated_line_share(lines)
        props["input.ontology_rows"] = len(onto)
    elif workload == "plain_dedup":
        bags = plain_docs(seed, PLAIN_TAG_DOCS)
        _write_parts(
            pa.table({
                "doc_id": pa.array([r[0] for r in bags], pa.int64()),
                "text": [r[1] for r in bags],
                "lang": [r[2] for r in bags],
            }),
            os.path.join(out_dir, "docs"),
        )
        pages, truth = dedup_docs(seed, CRAWL_DEDUP_DOCS)
        _write_parts(
            pa.table({"doc_id": [r[0] for r in pages], "text": [r[1] for r in pages]}),
            os.path.join(out_dir, "crawl"),
        )
        with open(os.path.join(out_dir, "truth.json"), "w") as f:
            json.dump(truth, f)
        props.update(_lang_shares(r[2] for r in bags))  # of the tagged word bags
        props["input.docs"] = len(bags) + len(pages)
        props["input.mchars"] = (sum(len(r[1]) for r in bags) + sum(len(r[1]) for r in pages)) / 1e6
        props["input.repeated_line_share"] = repeated_line_share(
            [[r[1]] for r in bags] + [r[1].split("\n") for r in pages])
        props["input.template_groups"] = len(truth["group_sizes"])
        props["input.template_max_group"] = truth["group_sizes"][0]
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return props
