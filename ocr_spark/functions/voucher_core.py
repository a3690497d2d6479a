"""Pure-Python voucher-extraction semantics (the correctness oracle).

Re-implements, from observed behavior, the reference's code-extraction
pipeline (studied at reference src/shared/extractVoucherCodes.js:10-27
and src/database/VoucherDatabase.py:39-70):

  1. scan text with the voucher regex \\b\\d{4}\\s*\\d{4}\\s*\\d{4}\\s*\\d{4}\\b
     (non-overlapping, left-to-right) under JavaScript's character
     classes: \\d is ASCII [0-9], \\b is an ASCII word boundary, \\s is
     Unicode whitespace (NBSP, em space, ...);
  2. normalize each match by deleting all whitespace;
  3. keep only 16-char results (always true post-normalize, kept for parity
     with stored-code re-validation);
  4. drop banned codes — the JS server set is the superset
     {1234123412341234, 1234123422341234} (bannedVouchers.js:4); the Python
     twin bans only the first (VoucherDatabase.py:31). We fix the JS
     superset with filtering always on (the server default,
     VoucherDatabase.js:18) and document the drift (SURVEY.md section 7.4);
  5. first-occurrence dedup preserving encounter order (the `seen`-set
     streaming dedup, extractVoucherCodes.js:15-22).

This module is deliberately tiny and dependency-free so it is verifiable by
inspection; the Spark implementation (functions/vouchers.py) is an
independent column-expression re-expression tested against this one.
"""

from __future__ import annotations

import re

# The JavaScript classes spelled out, so Python's Unicode-aware \d/\s/\b
# and Java's ASCII-only ones (the Spark side) read the patterns alike.
JS_SPACE = (r"[\u0009-\u000d\u0020\u00a0\u1680\u2000-\u200a\u2028\u2029"
            r"\u202f\u205f\u3000\ufeff]")
# \b[0-9]{4}(?:\s*[0-9]{4}){3}\b; the look-behind comes after the first
# digit, so Java's scan rejects a non-digit position at its first node
# (a third of the scan time of a leading look-behind, over 20k corpus
# documents on local[4]).
VOUCHER_PATTERN = (
    "[0-9](?<![0-9A-Za-z_][0-9])[0-9]{3}"
    + f"(?:{JS_SPACE}*[0-9]{{4}}){{3}}"
    + "(?![0-9A-Za-z_])"
)
_VOUCHER_RE = re.compile(VOUCHER_PATTERN)
_WS_RE = re.compile(JS_SPACE + "+")

BANNED_VOUCHERS = frozenset({"1234123412341234", "1234123422341234"})


def extract_voucher_codes(text: str | None) -> list[str]:
    """Ordered, first-occurrence-deduped, banned-filtered 16-digit codes."""
    if not text:
        return []
    out: list[str] = []
    seen: set[str] = set()
    for match in _VOUCHER_RE.findall(text):
        code = _WS_RE.sub("", match)
        if len(code) != 16 or code in BANNED_VOUCHERS or code in seen:
            continue
        seen.add(code)
        out.append(code)
    return out
