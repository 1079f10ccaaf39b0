"""F6 roman numerals (`scrc/utils/main_utils.py:171-210`): int↔roman
for numbered-ruling iteration.  Pure functions (usable inside any UDF)."""

from __future__ import annotations

_VALUES = [
    (1000, "M"), (900, "CM"), (500, "D"), (400, "CD"), (100, "C"),
    (90, "XC"), (50, "L"), (40, "XL"), (10, "X"), (9, "IX"),
    (5, "V"), (4, "IV"), (1, "I"),
]
_FROM = {r: v for v, r in _VALUES}


def int_to_roman(n: int) -> str:
    if not 0 < n < 4000:
        raise ValueError(f"out of roman range: {n}")
    out = []
    for v, sym in _VALUES:
        while n >= v:
            out.append(sym)
            n -= v
    return "".join(out)


def roman_to_int(s: str) -> int:
    s = s.upper().strip()
    total, i = 0, 0
    while i < len(s):
        if i + 1 < len(s) and s[i : i + 2] in _FROM:
            total += _FROM[s[i : i + 2]]
            i += 2
        elif s[i] in _FROM:
            total += _FROM[s[i]]
            i += 1
        else:
            raise ValueError(f"not a roman numeral: {s}")
    return total
