"""String scalar functions (reference: /root/reference/lib/strings.go,
doc :32-91, impls :588-1014). Every function is a thin builder over
built-in Catalyst expressions — stays inside whole-stage codegen.

Index functions return 0-based offsets (-1 = absent) to match the
reference, while Spark's ``instr``/``locate`` are 1-based.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


def compare(a, b) -> Column:
    """3-way lexicographic compare → -1/0/1 (strings.go:588)."""
    a, b = _c(a), _c(b)
    return F.when(a < b, F.lit(-1)).when(a > b, F.lit(1)).otherwise(F.lit(0))


def contains_substr(s, sub) -> Column:
    return F.contains(_c(s), _c(sub) if isinstance(sub, Column) else F.lit(sub))


def contains_any(s, chars: str) -> Column:
    """True if any char of ``chars`` occurs in s (strings.go:612)."""
    import re as _re

    return _c(s).rlike("[" + _re.escape(chars) + "]")


def count_substr(s, sub: str) -> Column:
    """Number of non-overlapping occurrences (strings.go:624).
    count('') = len(s)+1 like Go."""
    s = _c(s)
    if sub == "":
        return (F.length(s) + 1).cast("bigint")
    return ((F.length(s) - F.length(F.replace(s, F.lit(sub), F.lit("")))) / len(sub)).cast("bigint")


# Unicode simple case folding (Go strings.EqualFold semantics) as
# lower() + a per-rune fixup: the 108 codepoints that are fixed points
# of toLowerCase but NOT of simple fold (CaseFolding.txt C+S rows),
# derived from Python's Unicode 14 tables: µ→μ, ſ→s, final sigma ς→σ,
# Greek symbol letters (ϐϑϕϖϰϱϵ), combining ypogegrammeni, ẛ→ṡ,
# historic Cyrillic ᲀ-ᲈ, and the Cherokee small letters (whose fold
# representative is the UPPERCASE block, so lower() moves AWAY from
# the orbit representative and translate() brings it back).
_FOLD_FROM = (
    "\xb5ſͅςϐϑϕϖϰϱϵ"
    "ᏸᏹᏺᏻᏼᏽ"
    "ᲀᲁᲂᲃᲄᲅᲆᲇᲈ"
    "ẛι"
    + "".join(chr(c) for c in range(0xAB70, 0xABC0))
)
_FOLD_TO = (
    "μsισβθφπκρε"
    "ᏰᏱᏲᏳᏴᏵ"
    "вдосттъѣ"
    "ꙋṡι"
    + "".join(chr(c) for c in range(0x13A0, 0x13F0))
)


def fold_case(s) -> Column:
    """Unicode simple case fold of every rune (strings.go:636 uses Go
    strings.EqualFold, i.e. SimpleFold orbits). lower() collapses all
    orbits except the 108 divergent runes, which translate() remaps —
    both are Catalyst built-ins, so folding stays in codegen."""
    return F.translate(F.lower(_c(s)), _FOLD_FROM, _FOLD_TO)


def equal_fold(a, b) -> Column:
    """Case-insensitive equality under Unicode simple folding
    (strings.go:636). r2 used lower()==lower(), which diverges on the
    Kelvin/long-s fold class; r3 matches Go rune-for-rune."""
    return fold_case(a) == fold_case(b)


def fields(s) -> Column:
    """Whitespace split dropping empties (strings.go:648) — the one
    tokenizer every operator uses; lowercasing callers pass
    ``F.lower(col)``. ``array_remove`` rather than a ``filter`` lambda:
    lambda HOFs run interpreted, outside whole-stage codegen."""
    return F.array_remove(F.split(F.trim(_c(s)), r"\s+"), "")


def has_prefix(s, p) -> Column:
    return F.startswith(_c(s), _c(p) if isinstance(p, Column) else F.lit(p))


def has_suffix(s, p) -> Column:
    return F.endswith(_c(s), _c(p) if isinstance(p, Column) else F.lit(p))


def index_of(s, sub) -> Column:
    """0-based index of first occurrence, -1 if absent (strings.go:680)."""
    sub = _c(sub) if isinstance(sub, Column) else F.lit(sub)
    return F.instr(_c(s), sub) - 1


def last_index_of(s, sub: str) -> Column:
    """0-based index of last occurrence, -1 if absent (strings.go:716).
    Computed from reversed strings so it stays a built-in expression."""
    s = _c(s)
    rpos = F.instr(F.reverse(s), F.reverse(F.lit(sub)))
    return F.when(rpos == 0, F.lit(-1)).otherwise(F.length(s) - rpos - len(sub) + 1)


def index_any(s, chars: str) -> Column:
    """0-based index of the first occurrence of any char from ``chars``,
    -1 if none (strings.go:692). Single regexp char-class scan."""
    import re as _re

    cls = "[" + _re.escape(chars) + "]"
    return F.regexp_instr(_c(s), F.lit(cls)) - 1


def last_index_any(s, chars: str) -> Column:
    """0-based index of the last occurrence of any char from ``chars``,
    -1 if none (strings.go:728). Scans the reversed string — valid
    because the class matches single code points."""
    import re as _re

    cls = "[" + _re.escape(chars) + "]"
    s = _c(s)
    rpos = F.regexp_instr(F.reverse(s), F.lit(cls))
    return F.when(rpos == 0, F.lit(-1)).otherwise(F.length(s) - rpos)


def join(arr, sep: str) -> Column:
    return F.array_join(_c(arr), sep)


def repeat(s, n: int) -> Column:
    return F.repeat(_c(s), n)


def replace_all(s, old: str, new: str) -> Column:
    return F.replace(_c(s), F.lit(old), F.lit(new))


def replace_n(s, old: str, new: str, n: int) -> Column:
    """Replace first n occurrences (strings.go:752). n<0 → all.
    Built by n chained single-shot regexp replaces on a sentinel-free
    path: uses locate+substring recursion unrolled n times."""
    if n < 0:
        return replace_all(s, old, new)
    col = _c(s)
    for _ in range(n):
        pos = F.instr(col, F.lit(old))
        col = F.when(pos > 0, F.concat(
            F.substring(col, F.lit(1), pos - 1),
            F.lit(new),
            F.substring(col, pos + len(old), F.length(col)),
        )).otherwise(col)
    return col


def split(s, sep: str) -> Column:
    """Go strings.Split semantics: literal separator, keep empties."""
    import re as _re

    return F.split(_c(s), _re.escape(sep), -1)


def split_n(s, sep: str, n: int) -> Column:
    import re as _re

    return F.split(_c(s), _re.escape(sep), n)


def split_after(s, sep: str) -> Column:
    """Split keeping the separator attached to the left piece
    (strings.go:806): implemented with a lookbehind-free regex split on
    a zero-width position after each separator."""
    import re as _re

    return F.split(_c(s), f"(?<={_re.escape(sep)})", -1)


def split_after_n(s, sep: str, n: int) -> Column:
    """SplitAfterN (strings.go:818): at most n pieces, the last piece
    keeps the unsplit remainder (separators included)."""
    import re as _re

    return F.split(_c(s), f"(?<={_re.escape(sep)})", n)


def substring(s, start: int, end: int) -> Column:
    """Code-point slicing [start,end) (strings.go:857-902). Spark's
    substring on StringType counts code points, matching Go's rune
    indexing for BMP+ text."""
    return F.substring(_c(s), start + 1, end - start)


def to_lower(s) -> Column:
    return F.lower(_c(s))


def to_upper(s) -> Column:
    return F.upper(_c(s))


def to_title(s) -> Column:
    """Go strings.ToTitle maps every rune to title case — approximated
    by upper() (exact for ASCII; documented divergence for ligature
    code points)."""
    return F.upper(_c(s))


def to_valid_utf8(b, replacement: str = "�") -> Column:
    """bytes → string with invalid sequences replaced
    (strings.go:928). binary→string cast reinterprets without
    validation; make_valid_utf8 (Spark 4) substitutes U+FFFD for
    invalid sequences — decode() would throw instead."""
    out = F.make_valid_utf8(_c(b).cast("string"))
    if replacement != "�":
        out = F.replace(out, F.lit("�"), F.lit(replacement))
    return out


def valid_utf8(b) -> Column:
    """True if bytes are valid UTF-8 (strings.go:1008) — Spark 4's
    is_valid_utf8 over the unchecked binary→string reinterpretation."""
    return F.is_valid_utf8(_c(b).cast("string"))


def trim(s, cutset: str) -> Column:
    return F.trim(_c(s), F.lit(cutset)) if cutset else F.trim(_c(s))


def trim_left(s, cutset: str) -> Column:
    return F.ltrim(_c(s), F.lit(cutset))


def trim_right(s, cutset: str) -> Column:
    return F.rtrim(_c(s), F.lit(cutset))


def trim_space(s) -> Column:
    return F.trim(_c(s))


def trim_prefix(s, prefix: str) -> Column:
    s = _c(s)
    return F.when(F.startswith(s, F.lit(prefix)), F.substring(s, len(prefix) + 1, F.length(s))).otherwise(s)


def trim_suffix(s, suffix: str) -> Column:
    s = _c(s)
    return F.when(
        F.endswith(s, F.lit(suffix)), F.substring(s, F.lit(1), F.length(s) - len(suffix))
    ).otherwise(s)
