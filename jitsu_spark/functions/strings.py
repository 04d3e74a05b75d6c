"""String normalization functions.

Semantics re-implemented from the reference's production snake_case
(`libs/core-functions/src/functions/lib/strings.ts:11-35`,
`idToSnakeCaseFast`): an underscore is inserted before an uppercase latin
letter only when the previous character is a latin letter (NOT a digit:
"prop1Value" -> "prop1value", "CaseLastName" -> "case_last_name"); spaces
become underscores; uppercase is lowered. Used at plan-build time for typed
columns (zero runtime cost) and inside the layout pandas UDF for open bags.
"""

from __future__ import annotations

import re

_UPPER_AFTER_LETTER = re.compile(r"(?<=[a-zA-Z])([A-Z])")


def snake_case(name: str) -> str:
    out = _UPPER_AFTER_LETTER.sub(r"_\1", name)
    return out.replace(" ", "_").lower()


def snake_case_tree(value):
    """Recursive key rewrite over parsed JSON (dicts/lists/scalars)."""
    if isinstance(value, dict):
        return {snake_case(k): snake_case_tree(v) for k, v in value.items()}
    if isinstance(value, list):
        return [snake_case_tree(v) for v in value]
    return value
