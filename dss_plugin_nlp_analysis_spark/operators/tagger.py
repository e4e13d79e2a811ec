"""The tagging dataflow: one document kernel, one Arrow crossing per output.

Physical plan (SURVEY.md §3, stage boundaries):

    scan → [Arrow UDF: clean → sentencize → normalize → tokenize → AC probe
            → emit the output shape's rows] → projection / explode_outer → sink

``process_document`` is the only per-document kernel, and ``_doc_udf`` is
the only Python crossing: one Arrow-batched UDF factory that runs the kernel
on each row and hands its ``(sentences, matches)`` to a small row emitter.
Each output shape — one_row_per_match, one_row_per_doc, one_row_per_doc_json
here, and the KG triples of ``kg.build_triples`` and the streaming path — is
one emitter, so each ships back only its final rows and batch and stream
cannot drift apart. Every format is a **per-row transform — zero shuffle**:
the reference's per-document "aggregations" (A1-A4) group by the document
itself, so they are computed inside the same Python pass (the A3 pivot's
category universe is ontology-known and becomes direct column synthesis).

Reference parity map:
- extraction      → ontology_tagger.py:94-137, sentence_splitter.py:46-118,
                    formatting/base.py:85-99 (normalize-per-sentence)
- one_row_per_match → formatter_by_match.py:42-151 (+ base.py:107 dedup)
- one_row_per_doc   → formatter_by_document.py:30-222
- one_row_per_doc_json → formatter_by_document.py:225-384
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from ..functions.langsupport import validate_languages
from ..functions.lemmas import lemmatize_tokens
from ..functions.naming import ordered_with_new_after, unique_names
from ..functions.sentencizer import sentence_token_spans
from ..functions.textnorm import clean_linebreaks, normalize_text
from ..functions.tokenizer import tokenize_raw
from .automaton import filter_leftmost_longest
from .ontology import CompiledOntology, TagOptions, clean_ontology, compile_ontology

__all__ = [
    "OUTPUT_FORMATS",
    "tag_documents",
    "process_document",
]

OUTPUT_FORMATS = ("one_row_per_match", "one_row_per_doc", "one_row_per_doc_json")

# human descriptions attached as column metadata (reference
# formatting/base.py:18-28 COLUMN_DESCRIPTION, written via the S5 sink)
COLUMN_DESCRIPTIONS = {
    "tag_keywords": "List of matched keywords",
    "tag_sentences": "Sentences containing matched keywords",
    "tag_json_full": "Detailed tag column: list of matched keywords per tag "
                     "and category, count of occurrences, sentences containing matched keywords",
    "tag_json_categories": "List of tags per category",
    "tag_list": "List of all assigned tags",
    "tag": "Assigned tag",
    "tag_keyword": "Matched keyword",
    "tag_sentence": "Sentence containing the matched keyword",
    "tag_category": "Category of tag",
}



# "plain words" screen for the kernel fast path: a cleaned document of
# ASCII-alnum words joined by single spaces tokenizes to exactly
# ``clean.split(" ")`` (no space tokens, no punctuation), contains no
# sentence-break token (alnum is never in SENTENCE_PUNCT_CHARS and never
# punct), and is normalization-identity for every option lattice point
# except lowercasing (handled by the lowercase-only variant) — so the whole
# tokenize -> sentencize -> normalize pipeline collapses to one split and
# one automaton probe. Equivalence with the generic path is pinned by
# tests/test_round6_fastpath.py (monkeypatched never-matching screen).
_FAST_WORDS_RE = re.compile(r"[A-Za-z0-9]+(?: [A-Za-z0-9]+)*")
_FAST_WORDS_LOWER_RE = re.compile(r"[a-z0-9]+(?: [a-z0-9]+)*")


def _resolve_payload(
    compiled: CompiledOntology, keys: list, ts: int, te: int,
    payloads: tuple, lang_profiles: dict
) -> int:
    """Duplicate-keyword tie rule shared by both kernel paths."""
    if compiled.options.link_entities and len(payloads) > 1:
        # context-window scoring (SEMANTICS.md §8): overlap between the
        # sentence's other tokens and each candidate tag's other keywords;
        # ties keep add order
        context = set(keys[:ts]) | set(keys[te:])
        return max(
            payloads,
            key=lambda p: (len(context & lang_profiles.get(p, frozenset())), -p),
        )
    # dup-keyword resolution: EntityRuler keeps the first-added pattern,
    # the no-category dict keeps the last (SEMANTICS.md §5)
    return payloads[0] if compiled.has_category else payloads[-1]


def _process_simple_doc(
    compiled: CompiledOntology, clean: str, lang: str
) -> tuple[list[str], list[dict]]:
    """Fast path for documents that pass the plain-words screen: the doc is
    one sentence, its tokens are ``clean.split(" ")`` verbatim, offsets are
    prefix sums — no tokenizer, no sentencizer, no per-sentence re-scan."""
    opts = compiled.options
    parts = clean.split(" ")
    keys = (
        lemmatize_tokens(parts, compiled.lemma_tables.get(lang, {}))
        if opts.lemmatization
        else parts
    )
    hits = compiled.automaton_for(lang).find_all(keys)
    sentences = [clean]
    if not hits:
        return sentences, []
    if compiled.has_category:
        hits = filter_leftmost_longest(hits)
    starts: list[int] = []
    ends: list[int] = []
    pos = 0
    for p in parts:
        starts.append(pos)
        pos += len(p)
        ends.append(pos)
        pos += 1
    lang_profiles = compiled.profiles.get(lang, {})
    matches: list[dict] = []
    for ts, te, payloads in hits:
        idx = (
            _resolve_payload(compiled, keys, ts, te, payloads, lang_profiles)
            if len(payloads) > 1
            else payloads[0]
        )
        tag, category = compiled.payloads[idx]
        cs, ce = starts[ts], ends[te - 1]
        matches.append(
            {
                "sent_idx": 0,
                "tok_start": ts,
                "tok_end": te,
                "char_start": cs,
                "char_end": ce,
                "tag": tag,
                "category": category,
                "keyword": clean[cs:ce],
            }
        )
    return sentences, matches


def process_document(
    compiled: CompiledOntology, text: str | None, lang: str
) -> tuple[list[str], list[dict]]:
    """Pure-Python per-document kernel (unit-testable without Spark).

    Single pass: linebreak clean → tokenize once → sentence spans →
    per-sentence normalize (token reuse when normalization is identity) →
    AC probe (all-overlaps, or leftmost-longest when categories exist).
    """
    clean = clean_linebreaks(text)
    if not clean:
        return [], []
    opts = compiled.options
    fast_re = _FAST_WORDS_LOWER_RE if opts.ignore_case else _FAST_WORDS_RE
    if fast_re.fullmatch(clean):
        return _process_simple_doc(compiled, clean, lang)
    doc_tokens = tokenize_raw(clean, lang)  # plain (text, start, end, is_space)
    spans = sentence_token_spans(doc_tokens)
    auto = compiled.automaton_for(lang)
    table = compiled.lemma_tables.get(lang, {})
    sentences: list[str] = []
    matches: list[dict] = []
    for s_idx, (a, b) in enumerate(spans):
        off = doc_tokens[a][1]
        sent_text = clean[off:doc_tokens[b - 1][2]]
        sentences.append(sent_text)
        norm = normalize_text(
            sent_text,
            ignore_case=opts.ignore_case,
            lemmatization=opts.lemmatization,
            ignore_diacritics=opts.ignore_diacritics,
        )
        reused = norm == sent_text  # fast path: reuse the doc-level tokens
        toks = doc_tokens[a:b] if reused else tokenize_raw(norm, lang)
        keys = [t[0] for t in toks]
        if opts.lemmatization:
            keys = lemmatize_tokens(keys, table)
        hits = auto.find_all(keys)
        if not hits:
            continue
        # char offsets are only needed once something matched
        shift = off if reused else 0
        starts = [t[1] - shift for t in toks]
        ends = [t[2] - shift for t in toks]
        if compiled.has_category:
            hits = filter_leftmost_longest(hits)
        lang_profiles = compiled.profiles.get(lang, {})
        for ts, te, payloads in hits:
            idx = (
                _resolve_payload(compiled, keys, ts, te, payloads, lang_profiles)
                if len(payloads) > 1
                else payloads[0]
            )
            tag, category = compiled.payloads[idx]
            cs, ce = starts[ts], ends[te - 1]
            matches.append(
                {
                    "sent_idx": s_idx,
                    "tok_start": ts,
                    "tok_end": te,
                    "char_start": cs,
                    "char_end": ce,
                    "tag": tag,
                    "category": category,
                    "keyword": norm[cs:ce],
                }
            )
    return sentences, matches


Emit = Callable[[list[str], list[dict]], object]


def _doc_udf(ref, default_lang: str, skip_unknown: bool, schema: T.DataType, emit: Emit):
    """The one Python crossing of the tagging dataflow: an Arrow-batched
    UDF over ``(text, lang)`` that returns ``emit(sentences, matches)`` of
    ``process_document`` for each row, typed as ``schema``.

    ``ref`` is a Broadcast or a plain CompiledOntology (duck-typed via
    ``.value``; streams pass the plain payload because broadcast variables
    do not restart cleanly). A NULL/empty lang falls back to
    ``default_lang``; a lang the ontology was not compiled for raises, or
    emits ``emit([], [])`` under ``skip_unknown``."""

    arrow_type = to_arrow_type(schema)

    @arrow_udf(schema)
    def rows_of(it: Iterator[tuple[pa.Array, pa.Array]]) -> Iterator[pa.Array]:
        compiled: CompiledOntology = getattr(ref, "value", ref)
        known = set(compiled.patterns)
        for text_a, lang_a in it:
            rows = []
            for text, lang in zip(text_a.to_pylist(), lang_a.to_pylist()):
                lang = lang if isinstance(lang, str) and lang else default_lang
                if lang in known:
                    rows.append(emit(*process_document(compiled, text, lang)))
                elif skip_unknown:
                    rows.append(emit([], []))
                else:
                    raise ValueError(f"Unsupported language code: '{lang}'")
            yield pa.array(rows, type=arrow_type)

    return rows_of


# --- row emitters: (sentences, matches) -> the output shape's rows -------

def _per_match_emit(has_category: bool) -> Emit:
    """one_row_per_match: the document's (category?, tag, keyword,
    sentence) rows, ordered keep-first dedup over the whole row — the
    reference's whole-row drop_duplicates (formatting/base.py:107) within
    the document, same visible rows with no shuffle (SEMANTICS.md §7 DIV).
    No-match docs emit no rows, which explode_outer turns into one all-NULL
    row (formatter_by_match.py:94-98)."""

    def emit(sentences, matches):
        if has_category:
            rows = ((m["category"], m["tag"], m["keyword"], sentences[m["sent_idx"]])
                    for m in matches)
        else:
            rows = ((m["tag"], m["keyword"], sentences[m["sent_idx"]]) for m in matches)
        return list(dict.fromkeys(rows))

    return emit


def _slots_json(full: dict) -> str:
    """Serialize {tag: {"count": int, "sentences": [str], "keywords":
    [str]}} exactly as ``json.dumps(full, ensure_ascii=False)`` would
    (insertion order, ", "/": " separators) but ~3x faster: the value
    shape is static, so only the C string escaper is invoked per string —
    byte-for-byte equality is fuzz-pinned in tests/test_round6_fastpath.py.
    """
    parts = []
    for tag, slot in full.items():
        s = ", ".join(map(_esc_json, slot["sentences"]))
        k = ", ".join(map(_esc_json, slot["keywords"]))
        parts.append(
            f'{_esc_json(tag)}: {{"count": {slot["count"]},'
            f' "sentences": [{s}], "keywords": [{k}]}}'
        )
    return "{" + ", ".join(parts) + "}"


_esc_json = json.encoder.encode_basestring  # dumps' own ensure_ascii=False escaper


def _doc_json_builders():
    """Per-doc JSON assembly for one_row_per_doc_json — byte format mirrors
    the reference (ensure_ascii=False, ", " separators)."""

    def build_no_cat(matches, sentences) -> str | None:
        full: dict[str, dict] = {}
        for mt in matches:
            tag, kw = mt["tag"], mt["keyword"]
            sent = sentences[mt["sent_idx"]]
            slot = full.get(tag)
            if slot is None:
                full[tag] = {"count": 1, "sentences": [sent], "keywords": [kw]}
            else:
                slot["count"] += 1
                if sent not in slot["sentences"]:
                    slot["sentences"].append(sent)
                if kw not in slot["keywords"]:
                    slot["keywords"].append(kw)
        return _slots_json(full) if full else None

    def build_cat(matches, sentences) -> tuple[str | None, str | None]:
        cats: dict[str, list] = {}
        full: dict[str, dict] = {}
        for mt in matches:
            tag, kw, cat = mt["tag"], mt["keyword"], mt["category"]
            sent = sentences[mt["sent_idx"]]
            by_tag = full.setdefault(cat, {})
            slot = by_tag.get(tag)
            if slot is None:
                by_tag[tag] = {"count": 1, "sentences": [sent], "keywords": [kw]}
                cats.setdefault(cat, []).append(tag)
            else:
                slot["count"] += 1
                if sent not in slot["sentences"]:
                    slot["sentences"].append(sent)
                if kw not in slot["keywords"]:
                    slot["keywords"].append(kw)
        if not full:
            return None, None
        cats_parts = ", ".join(
            f'{_esc_json(c)}: [{", ".join(map(_esc_json, tags))}]'
            for c, tags in cats.items()
        )
        full_parts = ", ".join(
            f"{_esc_json(c)}: {_slots_json(by_tag)}" for c, by_tag in full.items()
        )
        return "{" + cats_parts + "}", "{" + full_parts + "}"

    return build_no_cat, build_cat


def _json_list(items) -> str | None:
    """JSON array of strings, byte-equal to Spark ``to_json(array<string>)``
    (compact separators, non-ASCII unescaped); NULL when empty."""
    return "[" + ",".join(map(_esc_json, items)) + "]" if items else None


def _per_doc_emit(categories: list[str] | None) -> Emit:
    """one_row_per_doc, one struct row per document.

    No category (formatter_by_document.py:54-86): tag_list / tag_keywords =
    JSON arrays of first-appearance distinct values; tag_sentences = concat
    of (matched sentence + "\\n") per sentence index with a match, doc
    order; all three NULL when nothing matched.
    With category (formatter_by_document.py:143-222): one tag list per
    ontology category, positionally (NULL when the doc has none),
    text-deduped sentences joined with " " (empty string when no match —
    reference wart preserved).
    """
    if categories is None:
        def emit(sentences, matches):
            if not matches:
                return None, None, None
            sent_idxs = dict.fromkeys(m["sent_idx"] for m in matches)
            return (
                _json_list(dict.fromkeys(m["tag"] for m in matches)),
                _json_list(dict.fromkeys(m["keyword"] for m in matches)),
                "".join(sentences[i] + "\n" for i in sent_idxs),
            )

        return emit

    def emit_cat(sentences, matches):
        tags: dict[str, dict[str, None]] = {c: {} for c in categories}
        for m in matches:
            tags[m["category"]][m["tag"]] = None
        sents = dict.fromkeys(sentences[m["sent_idx"]] for m in matches)
        return (
            *map(_json_list, tags.values()),
            _json_list(dict.fromkeys(m["keyword"] for m in matches)),
            " ".join(s + "\n" for s in sents),
        )

    return emit_cat


def _doc_json_emit(has_category: bool) -> Emit:
    build_no_cat, build_cat = _doc_json_builders()
    if has_category:
        return lambda sentences, matches: build_cat(matches, sentences)
    return lambda sentences, matches: (build_no_cat(matches, sentences),)


# --- end-to-end entries ---------------------------------------------------

def _compile_for(
    docs_df: DataFrame,
    ontology_df: DataFrame,
    tag_col: str,
    keyword_col: str,
    category_col: str | None,
    lang_col: str | None,
    language: str,
    languages: list[str] | None,
    options: TagOptions,
    skip_unknown: bool,
    lemma_lookup_dir: str | None = None,
) -> CompiledOntology:
    """Ontology preparation shared by ``tag_documents`` and
    ``kg.build_triples``: clean, collect, resolve the document languages
    (a distinct-languages pre-scan unless ``languages`` is given, as the
    reference derives it from the data, recipe.py:14-18), validate them and
    compile."""
    clean = clean_ontology(ontology_df, tag_col, keyword_col, category_col)
    rows = [(r["tag"], r["keyword"], r["category"] if category_col else None)
            for r in clean.collect()]
    if languages is None:
        if lang_col:
            languages = [
                r[0]
                for r in docs_df.select(lang_col).where(F.col(lang_col).isNotNull()).distinct().collect()
            ]
        else:
            languages = [language]
    # P8 guard (dku_plugin_config_loading.py:153-159): unsupported codes
    # raise, unless the caller opts into skip-and-continue
    languages = validate_languages(languages, skip_unknown)
    return compile_ontology(
        rows, languages, options, category_col is not None, lemma_lookup_dir
    )


def tag_documents(
    docs_df: DataFrame,
    ontology_df: DataFrame,
    text_col: str = "text",
    lang_col: str | None = "lang",
    language: str = "en",
    tag_col: str = "tag",
    keyword_col: str = "keyword",
    category_col: str | None = None,
    output_format: str = "one_row_per_match",
    options: TagOptions = TagOptions(),
    languages: list[str] | None = None,
    skip_unknown: bool = False,
    lemma_lookup_dir: str | None = None,
) -> DataFrame:
    """Full reference-recipe equivalent (recipe.py:1-42 semantics).

    ``languages``: pass explicitly at scale to avoid the distinct-languages
    pre-scan (the reference derives it from the data, recipe.py:14-18).
    """
    if output_format not in OUTPUT_FORMATS:
        raise ValueError(f"unknown output_format '{output_format}'")
    compiled = _compile_for(
        docs_df, ontology_df, tag_col, keyword_col, category_col, lang_col,
        language, languages, options, skip_unknown, lemma_lookup_dir,
    )
    has_category = category_col is not None

    if output_format == "one_row_per_match":
        base_names = (["tag_category"] if has_category else []) + [
            "tag", "tag_keyword", "tag_sentence",
        ]
        emit = _per_match_emit(has_category)
    elif output_format == "one_row_per_doc":
        categories = None
        base_names = ["tag_list"]
        if has_category:
            categories = list(dict.fromkeys(c for _t, c in compiled.payloads))
            # NFD-normalized category in the column name (the reference calls
            # unicode_normalize_text with its default form — formatter_by_document.py:198-205)
            base_names = [f"tag_list_{normalize_text(c)}" for c in categories]
        base_names += ["tag_keywords", "tag_sentences"]
        emit = _per_doc_emit(categories)
    else:
        base_names = (["tag_json_categories"] if has_category else []) + ["tag_json_full"]
        emit = _doc_json_emit(has_category)
    # human descriptions as column metadata (S5; base.py:72-77); per-category
    # columns are described by their raw category, positionally, since two
    # raw categories can NFD-normalize to the same base name
    comments = [COLUMN_DESCRIPTIONS.get(b) for b in base_names]
    if output_format == "one_row_per_doc" and has_category:
        comments[:len(categories)] = [f"List of '{c}' tags" for c in categories]

    # each emitted row is a struct whose fields are the final column names
    # (suffixed against the input columns, cleaning_utils.py:60-92)
    finals = unique_names(base_names, docs_df.columns)
    row_type = T.StructType([T.StructField(f, T.StringType()) for f in finals])
    per_match = output_format == "one_row_per_match"
    udf = _doc_udf(
        docs_df.sparkSession.sparkContext.broadcast(compiled), language, skip_unknown,
        T.ArrayType(row_type) if per_match else row_type, emit,
    )
    rows = udf(F.col(text_col), F.col(lang_col) if lang_col else F.lit(language))
    out = docs_df.withColumn("_tags", F.explode_outer(rows) if per_match else rows)
    new = {
        f: F.col("_tags")[f].alias(f, metadata={"comment": c})
        for f, c in zip(finals, comments)
    }
    order = ordered_with_new_after(docs_df.columns + finals, finals, text_col)
    return out.select(*[new.get(c, c) for c in order])
