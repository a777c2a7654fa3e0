"""Shared masking + tokenization kernel.

This module is imported by BOTH the single-node oracle
(``ai_log_analyzer_spark.oracle``) and the Spark pandas-UDF parse stage
(``ai_log_analyzer_spark.operators.parse``).  Using one compiled-regex
code path on both sides is what makes the byte-identity invariant
(BASELINE.json input_hint: "byte-identical extracted text per url")
testable rather than aspirational.

Semantics mirror drain3's MaskingInstruction behaviour as observed in the
reference (mask prefix/suffix ``<:`` / ``:>`` — corroborated by the
reference's strip-regex ``<:.*?:>`` at
/root/reference/ailoganalyzer/dataset/template_miner.py:118) and the
Drain paper's whitespace tokenization.  No reference code is copied; the
mask *patterns* are ours (the reference never ships a drain.ini).
"""

from __future__ import annotations

import re
from typing import List, Tuple

MASK_PREFIX = "<:"
MASK_SUFFIX = ":>"
WILDCARD = "<*>"

# Order matters: IP before NUM (an IP contains digits), HEX before NUM.
# Patterns are deliberately lookaround-light so they behave identically
# under Python `re` (oracle + pandas UDF) — the only regex engine we use.
MASK_INSTRUCTIONS: List[Tuple[str, str]] = [
    ("IP", r"(?<![\w.])(?:\d{1,3}\.){3}\d{1,3}(?![\w.])"),
    ("HEX", r"(?<![\w])0x[0-9a-fA-F]+(?![\w])"),
    ("NUM", r"(?<![\w.])\d+(?:\.\d+)?(?![\w.])"),
]

# re.ASCII: \d/\w mean [0-9]/[0-9a-zA-Z_] exactly — measured +12% on the
# masking pass and unambiguous cross-engine semantics (oracle and UDF
# share this module, so parity is by construction)
_COMPILED = [(name, re.compile(pat, re.ASCII)) for name, pat in MASK_INSTRUCTIONS]
_MASK_PATTERNS = dict(MASK_INSTRUCTIONS)

# Single-pass alternation: one scan instead of three sequential rewrites.
# Equivalent to the multi-pass order because alternation priority (IP,
# HEX, NUM) mirrors pass order and the patterns' lookarounds make cross-
# pass overlaps impossible (property-tested in test_masking.py against
# mask_line_multipass on adversarial inputs).  Cuts the parse stage's
# per-row string traffic ~3x — the masking pass is the memory-bandwidth
# hot spot of the flagship DAG (BENCH/BASELINE.md round-1 diagnosis).
_COMBINED = re.compile("|".join(f"(?P<{n}>{p})" for n, p in MASK_INSTRUCTIONS),
                       re.ASCII)


def _mask_repl(m: re.Match) -> str:
    return MASK_PREFIX + m.lastgroup + MASK_SUFFIX

# Masks can be EMBEDDED inside a token (e.g. "{IP}:{NUM}" renders one
# token "1.2.3.4:80" masking to "<:IP:>:<:NUM:>") — scan for occurrences.
MASK_SCAN_RE = re.compile(r"<:(\w+):>")

# Separator for the canonical extracted_text encoding (byte-identity
# surface): unit-separator never appears in generated text.
PARAM_SEP = "\x1f"


def mask_line(line: str) -> str:
    """Apply the masking instructions; whole-match replacement."""
    return _COMBINED.sub(_mask_repl, line)


def mask_line_multipass(line: str) -> str:
    """Reference semantics: one full rewrite per instruction, in order.
    Kept ONLY as the equivalence referee for the single-pass kernel."""
    for name, rx in _COMPILED:
        line = rx.sub(MASK_PREFIX + name + MASK_SUFFIX, line)
    return line


def mask_series(s):
    """Vectorized masking over a pandas string Series — the ONE masking
    kernel the oracle fit, distributed fit, and parse UDF all share."""
    return s.str.replace(_COMBINED, _mask_repl, regex=True)


def tokenize(line: str) -> List[str]:
    """Whitespace tokenization, collapsing runs (``str.split`` semantics)."""
    return line.split()


def _token_pieces(tok: str):
    """Split a template token into (kind, value) pieces where kind is
    'lit' | 'mask' | 'wild'.  Handles masks embedded mid-token."""
    if tok == WILDCARD:
        return [("wild", "*")]
    pieces = []
    pos = 0
    for m in MASK_SCAN_RE.finditer(tok):
        if m.start() > pos:
            pieces.append(("lit", tok[pos:m.start()]))
        pieces.append(("mask", m.group(1)))
        pos = m.end()
    if pos < len(tok):
        pieces.append(("lit", tok[pos:]))
    return pieces


def template_regex(template_tokens: List[str]) -> str:
    """Compile a template's token list into one anchored extraction regex.

    Literal text is escaped; ``<:NAME:>`` masks (whole-token OR embedded)
    capture with their original mask pattern (drain3
    ``exact_matching=True`` semantics, reference template_miner.py:62-63);
    the Drain wildcard ``<*>`` captures one whitespace-free token.
    Tokens join with ``\\s+`` so any whitespace run re-matches its own
    tokenization."""
    parts = []
    for tok in template_tokens:
        if "<" not in tok:
            # plain-word fast path (r6): _token_pieces of a "<"-free
            # token is a single lit piece — skip the regex scan
            parts.append(re.escape(tok))
            continue
        tp = []
        for kind, val in _token_pieces(tok):
            if kind == "mask":
                tp.append("(" + _MASK_PATTERNS[val] + ")")
            elif kind == "wild":
                tp.append(r"(\S+)")
            else:
                tp.append(re.escape(val))
        parts.append("".join(tp))
    return "^" + r"\s+".join(parts) + "$"


def param_mask_names(template_tokens: List[str]) -> List[str]:
    """Mask name per capture group, in capture order (``*`` = wildcard).

    r6: plain-word fast path — MASK_SCAN_RE needs a literal "<:" and the
    wildcard is "<*>", so tokens without "<" contribute nothing; the
    substring test skips the regex scan on the (overwhelming) majority
    of tokens, which is what makes per-worker catalog construction
    O(catalog) cheap at 10⁴-template catalogs."""
    names = []
    for tok in template_tokens:
        if "<" not in tok:
            continue
        if tok == WILDCARD:
            names.append("*")
            continue
        for kind, val in _token_pieces(tok):
            if kind == "mask":
                names.append(val)
            elif kind == "wild":
                names.append("*")
    return names


def extract_params(compiled_regex: re.Pattern, raw_line: str) -> List[str] | None:
    """Capture the parameter values of ``raw_line`` under a template regex.

    Returns None when the line does not match (dead-letter path — we fix
    the reference's unmatched-log crash, template_miner.py:61-65)."""
    m = compiled_regex.match(raw_line)
    if m is None:
        return None
    return list(m.groups())


def extracted_text(params: List[str]) -> str:
    """Canonical byte-identity encoding of a row's extracted parameters."""
    return PARAM_SEP.join(params)


def substitute(template_tokens: List[str], params: List[str]) -> str:
    """Round-trip: substitute params back into the template (single-space
    join — the generator's rendering).  Property test 3b asserts this
    regenerates the original line byte-for-byte."""
    out = []
    it = iter(params)
    for tok in template_tokens:
        tp = []
        for kind, val in _token_pieces(tok):
            if kind == "lit":
                tp.append(val)
            else:
                tp.append(next(it))
        out.append("".join(tp))
    return " ".join(out)
