"""LEX rendering / parsing — the reference's light-weight frame
annotation format for text.

Semantics from sling/nlp/document/lex.cc:

- ``to_lex`` (ToLex, lex.cc:216-294): tokens joined by break-dependent
  separators (none / ' ' / '<br/>\\n' / '  ' / '\\n\\n'), '[' opened at
  every span begin, '|<ref>' + ']' at span end, reserved characters
  escaped as HTML numeric entities (lex.cc:189-214), and the ``'' ``
  / `` `` `` / ``--`` / ``...`` token rewrites.
- ``parse_lex`` (DocumentLexer::Lex, lex.cc:36-150): the inverse —
  plain text plus (begin_token, end_token, ref) spans.
- ``render_lex``: the Spark operator — documents (raw layout) joined
  with their mentions, one Arrow pass per partition re-tokenizing and
  emitting the LEX string (same layout policy as the annotator: content
  crosses into Python only).

The token-break separator mapping uses our tokenizer's break levels
(0 none / 1 space / 2 sentence / 3 paragraph), a subset of the
reference's seven levels (no styled text in a code corpus).
"""

from __future__ import annotations

from .tokenize import tokenize

_REWRITES = {"``": "“", "''": "”", "--": "–", "...": "…"}
_ESCAPES = {
    "&": "&#38;", "<": "&#60;", ">": "&#62;", "{": "&#123;",
    "|": "&#124;", "}": "&#125;", "[": "&#91;", "]": "&#93;", '"': "&#34;",
}
_SEPARATORS = {0: "", 1: " ", 2: "  ", 3: "\n\n"}


def _escape(word: str) -> str:
    rw = _REWRITES.get(word)
    if rw is not None:
        return rw
    if any(c in _ESCAPES for c in word):
        return "".join(_ESCAPES.get(c, c) for c in word)
    return word


def to_lex(words: list[str], brks: list[int], spans: list[tuple[int, int, str]]) -> str:
    """Render tokens + (begin, end, ref) spans to LEX markup."""
    opens: dict[int, int] = {}
    closes: dict[int, list[str]] = {}
    for b, e, ref in sorted(spans, key=lambda s: (s[0], -s[1])):
        opens[b] = opens.get(b, 0) + 1
        closes.setdefault(e - 1, []).append(ref)
    out: list[str] = []
    for i, (w, brk) in enumerate(zip(words, brks)):
        if i > 0:
            out.append(_SEPARATORS.get(brk, " "))
        out.append("[" * opens.get(i, 0))
        out.append(_escape(w))
        for ref in reversed(closes.get(i, ())):
            out.append(f"|{ref}]")
    return "".join(out)


_UNESCAPES = {v: k for k, v in _ESCAPES.items()}


def parse_lex(lex: str) -> tuple[str, list[tuple[int, int, str]]]:
    """Parse LEX markup → (plain text, spans as byte offsets into the
    plain text). Inverse of to_lex up to separator normalization."""
    text: list[str] = []
    pos = 0
    stack: list[int] = []
    spans: list[tuple[int, int, str]] = []
    i, n = 0, len(lex)
    while i < n:
        c = lex[i]
        if c == "[":
            stack.append(pos)
            i += 1
        elif c == "|":
            # read ref up to the matching ']'; a '|' with no closing
            # bracket is malformed LEX — degrade to literal text
            # instead of aborting the whole Arrow batch
            j = lex.find("]", i)
            if j == -1:
                text.append(c)
                pos += 1
                i += 1
            else:
                ref = lex[i + 1 : j]
                if stack:
                    spans.append((stack.pop(), pos, ref))
                i = j + 1
        elif c == "]":
            if stack:
                spans.append((stack.pop(), pos, ""))
            i += 1
        elif c == "&":
            j = lex.find(";", i)
            ent = lex[i : j + 1] if j != -1 else ""
            if ent in _UNESCAPES:
                text.append(_UNESCAPES[ent])
                pos += 1
                i = j + 1
            else:
                text.append(c)
                pos += 1
                i += 1
        else:
            text.append(c)
            pos += 1
            i += 1
    return "".join(text), spans


LEX_SCHEMA = "repo string, path string, commit string, lex string"


def render_lex(documents_raw, mentions):
    """documents (raw layout) + mentions → one LEX string per document.
    Plan: pre-aggregate mentions per doc key (partial-agg shuffle), join
    with documents on the same key, one mapInPandas render pass."""
    import pandas as pd
    from pyspark.sql import functions as F

    per_doc = mentions.groupBy("repo", "path", "commit").agg(
        F.collect_list(F.struct("begin", "end", "entity")).alias("spans")
    )
    joined = documents_raw.select("repo", "path", "commit", "content").join(
        per_doc, on=["repo", "path", "commit"], how="left"
    )

    def render(batches):
        for pdf in batches:
            data = {"repo": [], "path": [], "commit": [], "lex": []}
            for row in pdf.itertuples(index=False):
                toks = tokenize(row.content)
                spans = [
                    (s["begin"], s["end"], s["entity"])
                    for s in (row.spans if row.spans is not None else ())
                ]
                data["repo"].append(row.repo)
                data["path"].append(row.path)
                data["commit"].append(row.commit)
                data["lex"].append(
                    to_lex([t.word for t in toks], [t.brk for t in toks], spans)
                )
            yield pd.DataFrame(data, columns=list(data))

    return joined.mapInPandas(render, schema=LEX_SCHEMA)
