"""Dual-dialect SQL primitives: one query body, rendered for Spark SQL and
DuckDB.  Everything numeric keeps the same IEEE-754 op sequence in both
engines (sequential list folds, explicit DOUBLE casts), so results are
bit-identical and survive the driver's value-hash compare.

dialect ∈ {"spark", "duck"}.
"""

from __future__ import annotations

D = "CAST({v} AS DOUBLE)"


def d(v: str) -> str:
    """Explicit DOUBLE literal/cast — bare decimal literals are DECIMAL in
    BOTH Spark SQL and DuckDB; decimal arithmetic silently rounds."""
    return D.format(v=v)


def r6t(e: str) -> str:
    """Deterministic 6-decimal half-up rounding, floor-based (see
    functions/scalars.r6) — identical text, identical doubles, both engines."""
    m = d("1000000.0")
    return (
        f"CASE WHEN isnan({e}) THEN {e} "
        f"ELSE floor(({e}) * {m} + {d('0.5')}) / {m} END"
    )


def fold(dialect: str, lst: str, body: str, init: str | None = None) -> str:
    """Sequential left fold with explicit init (default 0.0 double)."""
    init = init or d("0.0")
    if dialect == "spark":
        return f"aggregate({lst}, {init}, (acc, x) -> {body})"
    return f"list_reduce(list_concat([{init}], {lst}), (acc, x) -> {body})"


def map_fold_sum(
    dialect: str, lst: str, term_body: str, var: str = "x", init: str | None = None
) -> str:
    """Map each element to a numeric term, then fold-sum sequentially.

    Needed because the DuckDB fold() trick prepends the init to the list —
    legal only when element and accumulator types match.  Mapping first makes
    the folded list numeric regardless of the source element type.
    """
    terms = transform(dialect, lst, term_body, var=var)
    return fold(dialect, terms, "acc + x", init=init)


def seeded_fold(dialect: str, lst: str, body: str) -> str:
    """Left fold seeded with the list head (the reference EMA recursion)."""
    if dialect == "spark":
        return (
            f"aggregate(slice({lst}, 2, size({lst}) - 1), "
            f"CAST(element_at({lst}, 1) AS DOUBLE), (acc, x) -> {body})"
        )
    return f"list_reduce({lst}, (acc, x) -> {body})"


def collected(dialect: str, col: str, preceding: int, win: str) -> str:
    """Ordered window-frame list; NULL elements dropped in both engines
    (Spark collect_list skips NULLs, DuckDB list() keeps them)."""
    frame = f"ROWS BETWEEN {preceding} PRECEDING AND CURRENT ROW"
    if dialect == "spark":
        return f"collect_list({col}) OVER ({win} {frame})"
    return f"list_filter(list({col}) OVER ({win} {frame}), y -> y IS NOT NULL)"


def list_len(dialect: str, lst: str) -> str:
    return f"size({lst})" if dialect == "spark" else f"len({lst})"


def jsonk(dialect: str, col: str, key: str) -> str:
    if dialect == "spark":
        return f"get_json_object({col}, '$.{key}')"
    return f"json_extract_string({col}, '$.{key}')"


def split_ws(dialect: str, col: str) -> str:
    """Tokenize on single spaces, dropping empties — same list both engines."""
    raw = f"split({col}, ' ')" if dialect == "spark" else f"string_split({col}, ' ')"
    fl = "filter" if dialect == "spark" else "list_filter"
    return f"{fl}({raw}, t -> t <> '')"


def transform(dialect: str, lst: str, body: str, var: str = "x") -> str:
    fn = "transform" if dialect == "spark" else "list_transform"
    return f"{fn}({lst}, {var} -> {body})"


def elem(dialect: str, lst: str, i: str) -> str:
    return f"element_at({lst}, {i})" if dialect == "spark" else f"({lst})[{i}]"


def seq(dialect: str, a: str, b: str) -> str:
    return f"sequence({a}, {b})" if dialect == "spark" else f"generate_series({a}, {b})"


def char_code(dialect: str, s: str) -> str:
    """Code point of a 1-char string (ASCII range in our corpora)."""
    return f"ascii({s})" if dialect == "spark" else f"unicode({s})"


def explode_from(dialect: str, table: str, lst_col: str, alias: str, keep: str) -> str:
    """FROM-clause explode: one output row per list element.

    ``keep`` = comma-separated passthrough columns.
    """
    if dialect == "spark":
        return (
            f"SELECT {keep}, {alias} FROM {table} "
            f"LATERAL VIEW explode({lst_col}) _ex AS {alias}"
        )
    return f"SELECT {keep}, unnest({lst_col}) AS {alias} FROM {table}"


def shiftright(dialect: str, x: str, n: str) -> str:
    return f"shiftright({x}, {n})" if dialect == "spark" else f"(({x}) >> ({n}))"


def tok_hash(dialect: str, tok: str, mod: int = 1_000_000_007) -> str:
    """Deterministic polynomial string hash: fold over code points,
    acc = (acc*131 + code) % mod, acc0 = 7.  Engine-hash-free (Spark xxhash64
    and DuckDB hash() would never agree), so both dialects compute the same
    integer for the same token.
    """
    codes = transform(
        dialect,
        seq(dialect, "1", f"length({tok})"),
        char_code(dialect, f"substr({tok}, CAST(i AS INT), 1)"),
        var="i",
    )
    return fold(
        dialect, codes, f"(acc * 131 + x) % {mod}", init="CAST(7 AS BIGINT)"
    )


def regexp_count(dialect: str, col: str, pattern: str) -> str:
    """Count regex matches.  The pattern must avoid backslash escapes and
    POSIX classes (Java vs RE2 literal-escaping rules differ); plain
    character classes behave identically in both engines."""
    if dialect == "spark":
        return f"size(regexp_extract_all({col}, '{pattern}', 0))"
    return f"len(regexp_extract_all({col}, '{pattern}'))"


def regexp_replace_all(dialect: str, col: str, pattern: str, repl: str) -> str:
    """Replace EVERY regex match.  Spark's regexp_replace is global by
    default; DuckDB replaces only the first match unless passed the 'g'
    option.  Same pattern restrictions as regexp_count (no backslash
    escapes — plain character classes and {m,n} quantifiers only)."""
    if dialect == "spark":
        return f"regexp_replace({col}, '{pattern}', '{repl}')"
    return f"regexp_replace({col}, '{pattern}', '{repl}', 'g')"


def last_ignore_nulls(dialect: str, e: str) -> str:
    """last_value(...) IGNORE NULLS — Spark puts the modifier after the call,
    DuckDB inside the parentheses."""
    if dialect == "spark":
        return f"last_value({e}) IGNORE NULLS"
    return f"last_value({e} IGNORE NULLS)"


def explode_with_pos(dialect: str, table: str, lst_col: str, pos: str, alias: str, keep: str) -> str:
    """FROM-clause explode carrying the element position (for order-aware
    downstream windows).  Position base differs (Spark 0-, DuckDB 1-based) —
    callers may only ORDER BY it, never use its value."""
    if dialect == "spark":
        return (
            f"SELECT {keep}, {pos}, {alias} FROM {table} "
            f"LATERAL VIEW posexplode({lst_col}) _ex AS {pos}, {alias}"
        )
    return (
        f"SELECT {keep}, unnest(generate_series(1, len({lst_col}))) AS {pos}, "
        f"unnest({lst_col}) AS {alias} FROM {table}"
    )


def bxor(dialect: str, a: str, b: str) -> str:
    """Bitwise XOR — Spark spells it ``^`` (DuckDB's ``^`` is POWER)."""
    return f"(({a}) ^ ({b}))" if dialect == "spark" else f"xor({a}, {b})"


def idiv(dialect: str, a: str, b: str) -> str:
    """Integer division on integer operands (Spark DIV / DuckDB //)."""
    return f"(({a}) DIV ({b}))" if dialect == "spark" else f"(({a}) // ({b}))"


def dot_expr(dialect: str, a: str, b: str) -> str:
    """Sequential-fold dot product of two numeric lists — the ONE op
    sequence every cosine in the engine uses (plans and operators alike),
    so Spark and DuckDB produce bit-identical doubles."""
    prods = (
        f"{'transform' if dialect == 'spark' else 'list_transform'}"
        f"({seq(dialect, '1', list_len(dialect, a))}, i -> "
        f"CAST({elem(dialect, a, 'CAST(i AS INT)')} AS DOUBLE) * "
        f"CAST({elem(dialect, b, 'CAST(i AS INT)')} AS DOUBLE))"
    )
    return fold(dialect, prods, "acc + x")


def cosine_expr(dialect: str, a: str, b: str) -> str:
    """Cosine similarity over ``dot_expr`` folds — shared by the
    embedding plans and operators/similarity.srp_decontaminate so the
    operator's Spark values match the oracle text exactly."""
    return (
        f"({dot_expr(dialect, a, b)}) / "
        f"(sqrt({dot_expr(dialect, a, a)}) * sqrt({dot_expr(dialect, b, b)}))"
    )
