"""SQL surface for the table-valued operators.

The reference swaps Spark's analyzer to resolve its TVFs
(utvf/SeQuiLaAnalyzer.scala:44-133, ResolveTableValuedFunctionsSeq.scala:37-170).
A PySpark engine cannot (and should not) replace the analyzer; instead
``sequila_sql`` preprocesses the query string: each TVF call in a FROM
clause is evaluated through the Python operators and the call text is
rewritten to a view of that frame, unique to the statement and dropped
once the statement is analyzed.  Catalyst then plans the
whole query as usual — same observable semantics as the reference's
analyzer rule, zero lifecycle hacks.

Supported TVFs (surface from ResolveTableValuedFunctionsSeq.scala:88-127):

  coverage('<table>' [, '<sample>'] [, '<blocks|bases|windows>'] [, <window>])
  pileup('<table>' [, '<sample>'] [, '<ref_table>'] [, <alts>] [, <quals>] [, <binSize>])
  bdg_grange('<contig>', <start>, <end>)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sequila_spark import schemas as S
from sequila_spark.sources.bam import Reader, reader_of

_TVF_NAMES = ("coverage", "pileup", "bdg_grange")
_NAME_RE = re.compile(r"(coverage|pileup|bdg_grange)\s*\(", re.IGNORECASE)
_FROM_RE = re.compile(r"(?:\bfrom\b|\bjoin\b)$", re.IGNORECASE)
_CLAUSE_RE = re.compile(
    r"\b(from|join|where|having|select|limit|on|when|group\s+by|order\s+by)\b",
    re.IGNORECASE,
)


def _mask_balanced_parens(s: str) -> str:
    """Blank the contents of balanced ( ... ) groups (length-preserving)
    so clause keywords inside subqueries don't leak into the top-level
    clause detection; unbalanced (still-open) groups stay visible."""
    out = list(s)
    stack = []
    for i, ch in enumerate(s):
        if ch == "(":
            stack.append(i)
        elif ch == ")" and stack:
            j = stack.pop()
            if not stack:  # outermost group closed: blank its interior
                for k in range(j + 1, i):
                    out[k] = " "
    return "".join(out)


def _mask_comments(query: str) -> str:
    """Replace SQL comments (``-- ...`` to end-of-line, ``/* ... */``) with
    spaces, respecting string literals.  Length-preserving, so offsets into
    the masked text are valid offsets into the original."""
    out = list(query)
    i, n = 0, len(query)
    quote = None
    while i < n:
        ch = query[i]
        if quote:
            if ch == quote:
                if i + 1 < n and query[i + 1] == quote:
                    i += 2
                    continue
                quote = None
            i += 1
        elif ch in "'\"":
            quote = ch
            i += 1
        elif ch == "-" and query.startswith("--", i):
            j = query.find("\n", i)
            j = n if j < 0 else j
            out[i:j] = " " * (j - i)
            i = j
        elif ch == "/" and query.startswith("/*", i):
            j = query.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out[i:j] = " " * (j - i)
            i = j
        else:
            i += 1
    return "".join(out)


def _in_from_position(prefix: str) -> bool:
    """True when a call at the end of ``prefix`` (comment-masked) sits in a
    FROM-clause position: directly after FROM/JOIN (possibly behind
    grouping parens), or after a comma while the most recent TOP-LEVEL
    clause keyword is FROM/JOIN/ON — subquery internals are masked out, so
    ``FROM (SELECT ... WHERE ...) r, coverage(...)`` is recognized while a
    user function sharing a TVF name inside WHERE/SELECT args is left
    alone."""
    pre = prefix.rstrip()
    if _FROM_RE.search(pre):
        return True
    # directly inside FROM-list grouping parens: FROM ((coverage(...)))
    stripped = pre
    while stripped.endswith("("):
        stripped = stripped[:-1].rstrip()
        if _FROM_RE.search(stripped):
            return True
    if not pre.endswith((",", "(")):
        return False
    last = None
    for m in _CLAUSE_RE.finditer(_mask_balanced_parens(pre)):
        last = re.sub(r"\s+", " ", m.group(1).lower())
    return last in ("from", "join", "on")


def _find_tvf_calls(query: str) -> list[tuple[int, int, str, str]]:
    """(start, end, name, raw_args) for each TVF call in a FROM/JOIN
    position.  ``query`` should be comment-masked first.  The scanner tracks
    quote state (matches inside string literals are ignored; '' doubling
    respected) and balances parentheses, so TVF arguments may themselves
    contain calls and quoted commas."""
    out = []
    i, n = 0, len(query)
    quote = None
    while i < n:
        ch = query[i]
        if quote:
            if ch == quote:
                if i + 1 < n and query[i + 1] == quote:
                    i += 2
                    continue
                quote = None
            i += 1
            continue
        if ch in "'\"":
            quote = ch
            i += 1
            continue
        m = _NAME_RE.match(query, i)
        if (
            m
            and (i == 0 or not (query[i - 1].isalnum() or query[i - 1] in "_."))
            and _in_from_position(query[:i])
        ):
            depth, j, q2 = 1, m.end(), None
            while j < n and depth:
                c = query[j]
                if q2:
                    if c == q2:
                        if j + 1 < n and query[j + 1] == q2:
                            j += 2
                            continue
                        q2 = None
                elif c in "'\"":
                    q2 = c
                elif c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                j += 1
            if depth:
                raise ValueError(f"unbalanced parentheses in TVF call at offset {i}")
            out.append((i, j, m.group(1).lower(), query[m.end() : j - 1]))
            i = j
            continue
        i += 1
    return out


def _split_args(raw: str) -> list[str]:
    """Split on top-level commas (outside quotes and nested parens)."""
    parts, buf, depth, quote = [], [], 0, None
    for ch in raw:
        if quote:
            if ch == quote:
                quote = None
            buf.append(ch)
            continue
        if ch in "'\"":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    if buf and "".join(buf).strip():
        parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


_STR_LIT = re.compile(r"^'((?:[^']|'')*)'$|^\"((?:[^\"]|\"\")*)\"$")


def _parse_args(raw: str, spark: SparkSession | None = None) -> list:
    """Literal fast paths (quoted string / int / bool); any other argument
    expression (nested function calls, arithmetic) is evaluated by Spark as
    a one-row SELECT — full SQL expression grammar, clear errors."""
    args = []
    for part in _split_args(raw):
        m = _STR_LIT.match(part)
        if m:
            s = m.group(1) if m.group(1) is not None else m.group(2)
            args.append(s.replace("''", "'") if m.group(1) is not None else s.replace('""', '"'))
        elif part.lower() in ("true", "false"):
            args.append(part.lower() == "true")
        elif re.fullmatch(r"[+-]?\d+", part):
            args.append(int(part))
        elif spark is not None:
            try:
                args.append(spark.sql(f"SELECT {part}").collect()[0][0])
            except Exception as e:
                raise ValueError(
                    f"unsupported TVF argument {part!r}: literals or "
                    f"constant SQL expressions only"
                ) from e
        else:
            raise ValueError(f"unsupported TVF argument {part!r}")
    return args


def _sample_rows(spark: SparkSession, table: str, sample: str | None) -> DataFrame | Reader:
    """``table``'s rows of ``sample`` (all rows without one, or when the
    table has no sample_id).  A table that is a view of a BAM/CRAM reader
    relation gives the plan that view holds, narrowed to that sample's
    files (sources.bam.Reader.only): no file is opened or planned again,
    the coverage TVF fuses like the API without building a row relation,
    and no other sample is decoded.  Any other table is filtered."""
    df = spark.table(table)
    if not sample or S.SAMPLE not in df.columns:
        return df
    src = reader_of(df)
    return src.only(sample) if src is not None else df.where(F.col(S.SAMPLE) == sample)


def _tvf_coverage(spark: SparkSession, args: list) -> DataFrame:
    from sequila_spark.operators.coverage import coverage

    table = args[0]
    sample = None
    mode = "blocks"
    window = None
    for a in args[1:]:
        if isinstance(a, str) and a in ("blocks", "bases", "windows"):
            mode = a
        elif isinstance(a, int):
            window = a
        elif isinstance(a, str):
            sample = a
    return coverage(_sample_rows(spark, table, sample), mode=mode, window_size=window)


def _tvf_pileup(spark: SparkSession, args: list) -> DataFrame:
    from sequila_spark.operators.pileup import pileup

    table = args[0]
    sample = args[1] if len(args) > 1 and isinstance(args[1], str) else None
    ref_table = args[2] if len(args) > 2 and isinstance(args[2], str) and args[2] else None
    flags = [a for a in args if isinstance(a, bool)]
    ints = [a for a in args if isinstance(a, int) and not isinstance(a, bool)]
    alts = flags[0] if flags else True
    quals = flags[1] if len(flags) > 1 else False
    bin_size = ints[0] if ints else 1
    ref = spark.table(ref_table) if ref_table else None
    return pileup(
        _sample_rows(spark, table, sample),
        ref=ref, alts=alts, quals=quals, qual_bin_size=bin_size,
    )


def _tvf_grange(spark: SparkSession, args: list) -> DataFrame:
    contig, start, end = args
    return spark.createDataFrame(
        [(str(contig), int(start), int(end))],
        schema=f"{S.CONTIG} string, {S.START} int, {S.END} int",
    )


_TVFS = {"coverage": _tvf_coverage, "pileup": _tvf_pileup, "bdg_grange": _tvf_grange}


def _escape_braces(text: str) -> str:
    return text.replace("{", "{{").replace("}", "}}")


def sequila_sql(spark: SparkSession, query: str) -> DataFrame:
    """Run SQL with sequila TVF support (see module docstring).  TVF calls
    are recognized only in FROM/JOIN positions and never inside string
    literals; arguments may be literals, or constant SQL expressions
    (including nested function calls), which Spark evaluates first."""
    masked = _mask_comments(query)
    calls = _find_tvf_calls(masked)
    # Each TVF frame goes to spark.sql as a {tvfN} format argument: Spark
    # registers it under a unique temp-view name and drops that view when
    # the statement is analyzed, so concurrent statements in one session
    # never see each other's frames.  spark.sql formats the query only
    # when it gets arguments, so literal braces are escaped only then.
    escape = _escape_braces if calls else str
    frames = {}
    pieces = []
    last = 0
    for counter, (start, end, name, raw) in enumerate(calls):
        args = _parse_args(raw, spark)
        key = f"tvf{counter}"
        frames[key] = _TVFS[name](spark, args)
        pieces.append(escape(query[last:start]))
        pieces.append("{" + key + "}")
        last = end
    pieces.append(escape(query[last:]))
    rewritten = "".join(pieces)
    try:
        return spark.sql(rewritten, **frames)
    except Exception as e:
        # A TVF name left unrewritten (e.g. used outside a FROM/JOIN
        # position the scanner recognizes) surfaces from Spark as a
        # confusing unresolved-function error; point at the real cause.
        no_strings = re.sub(
            r"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"",
            lambda m: " " * len(m.group()),
            _mask_comments(rewritten),
        )
        leftover = _NAME_RE.search(no_strings)
        if leftover:
            raise ValueError(
                f"TVF call {leftover.group(1)!r}(...) at offset "
                f"{leftover.start()} was not rewritten — sequila TVFs are "
                f"only supported in FROM/JOIN positions (module docstring); "
                f"Spark error: {e}"
            ) from e
        raise
