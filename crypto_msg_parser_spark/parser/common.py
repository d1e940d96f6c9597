"""Shared parse-stage machinery (SURVEY.md §2.2-2.3).

Everything here is pure Column expressions — the parse stage is a per-row
flatMap with dictionary lookups, which in Spark is `from_json` + expression
math + `explode`, entirely inside whole-stage codegen. No Python UDFs.
The routing sniffers are the exception to the codegen: they read one
VARIANT parse per message (`Msg`, `parse_once`) inside a lambda, which
Spark evaluates interpreted.
"""

from __future__ import annotations

import functools
import json
import pathlib

from pyspark.sql import Column
from pyspark.sql import functions as F

from crypto_msg_parser_spark.functions.scalar import round9

# market types (crypto-market-type enum, serialized snake_case; SURVEY §1.2)
SPOT = "spot"
LINEAR_FUTURE = "linear_future"
INVERSE_FUTURE = "inverse_future"
LINEAR_SWAP = "linear_swap"
INVERSE_SWAP = "inverse_swap"
QUANTO_FUTURE = "quanto_future"
QUANTO_SWAP = "quanto_swap"
EUROPEAN_OPTION = "european_option"
MOVE = "move"
BVOL = "bvol"

INVERSE = (INVERSE_SWAP, INVERSE_FUTURE)
LINEARISH = (LINEAR_SWAP, LINEAR_FUTURE, MOVE, BVOL)


@functools.cache
def data_json(name: str):
    """``parser/data/<name>``, read and parsed once per process. Shared:
    callers must not mutate it."""
    return json.loads((pathlib.Path(__file__).parent / "data" / name).read_text())


def parsed_once(expr: Column, alias: str = "d"):
    """``df.transform(parsed_once(expr))``: materialize an expensive parse
    expression (a from_json envelope) through a Generate node so it is
    evaluated exactly once per row.

    A deterministic filter over ``withColumn(alias, expr)`` is pushed below
    the projection by Catalyst with alias substitution, re-evaluating the
    whole parse chain per reference — JsonToStructs is CodegenFallback, so
    neither whole-stage codegen nor subexpression elimination dedups it.
    Predicates that reference a generator's output cannot cross the
    Generate, so ``explode(array(expr))`` pins ONE evaluation.
    Measured on the binance trade path at sf0.1/32 cores: 5.1s -> 1.3s.
    ``array(expr)`` is never empty, so row count and null semantics are
    unchanged (a null parse yields one row with a null struct).
    """

    def _apply(df):
        return df.select("*", F.explode(F.array(expr)).alias(alias))

    return _apply


class Msg:
    """One raw message as the routing sniffers read it: the text ``raw``,
    for probes of the text itself (``startswith``, ``contains``,
    ``rlike``), and ``v``, its one parse as a VARIANT. Every JSON path read
    walks ``v``; nothing re-tokenizes the text.

    ``v`` is NULL where ``try_parse_json`` rejects the text: not JSON,
    truncated, or an object with a duplicate key. Every read of such a
    message is NULL and none raises; ``api.route`` gives it the default
    triple."""

    __slots__ = ("raw", "v")

    def __init__(self, raw: Column, v: Column):
        self.raw = raw
        self.v = v

    def get(self, path: str, type: str = "string") -> Column:
        """The value at ``path`` as ``type``; NULL where the path is
        missing, holds JSON null, or does not cast. A number read as a
        string is its decimal text; an object or array read as a string is
        its JSON (keys sorted), so probe containers with ``has``. A number
        read as a string and ``.try_cast`` equals
        ``get_json_object(...).cast`` where that cast succeeds, and is
        NULL where it would raise (a fraction read as an integer)."""
        return F.try_variant_get(self.v, path, type)

    def has(self, path: str) -> Column:
        """``path`` holds a non-null value (of any type), without
        rendering it: ``get_json_object(raw, path) IS NOT NULL``."""
        x = F.try_variant_get(self.v, path, "variant")
        return x.isNotNull() & ~F.is_variant_null(x)

    def rows(self, path: str, struct: str) -> Column:
        """``array<struct>`` at ``path``, a bare object read as a
        one-element array — how ``from_json`` reads an array-of-struct
        schema, which the sniffers' probes were written against."""
        obj = self.get(path, struct)
        return F.coalesce(
            self.get(path, f"array<{struct}>"), F.when(obj.isNotNull(), F.array(obj))
        )


def let(fn, *values: Column) -> Column:
    """``fn(*values)``, each value evaluated once per row however often
    ``fn`` names it.

    Catalyst shares no subexpression across the branches of a CASE, and
    a ladder that runs interpreted (as the sniffers do, inside a lambda)
    shares none at all: a value a ladder tests in five branches is
    computed five times. Binding the values to a lambda variable
    (``transform(array(value), x -> fn(x))[0]``; several values as one
    struct) computes each once."""
    if len(values) == 1:
        return F.transform(F.array(values[0]), fn)[0]
    names = [f"_{i}" for i in range(len(values))]
    bound = F.struct(*[v.alias(n) for v, n in zip(values, names)])
    return F.transform(F.array(bound), lambda t: fn(*[t[n] for n in names]))[0]


def secs_to_ms(secs: Column) -> Column:
    """Integral seconds to ms, NULL past BIGINT: a plain ``* 1000`` on a
    sniffed number raises ARITHMETIC_OVERFLOW under ANSI mode and fails
    the whole routing job for one out-of-range message."""
    return F.try_multiply(secs, F.lit(1000))


def parse_once(msg: Column, fn) -> Column:
    """``fn(Msg(msg, try_parse_json(msg)))``, parsing ``msg`` once per
    row (``let``) however many paths ``fn`` reads. The result is wrapped
    in a struct, whose type Spark does not re-derive per row as it does
    that of the 20-arm CASE of ``api.route``."""
    wrapped = let(lambda v: F.struct(fn(Msg(msg, v)).alias("x")), F.try_parse_json(msg))
    return wrapped["x"]


def sniffer(fn):
    """Decorator: ``fn(m: Msg) -> Column`` becomes the raw-message column
    function ``f(msg: Column) -> Column``, which parses ``msg`` once and
    applies ``fn``; ``f.read(m)`` is ``fn`` itself, for a caller that
    already holds the parse (``api.route``)."""

    @functools.wraps(fn)
    def on_raw(msg: Column) -> Column:
        return parse_once(msg, fn)

    on_raw.read = fn
    return on_raw


def explode_with_count(arr_expr: Column, alias: str = "d", n_alias: str = "n_items"):
    """``df.transform(explode_with_count(arr))``: fan out a parsed array
    with its element count available (for the whole-msg-vs-element json
    provenance choice), evaluating the array parse exactly ONCE.

    The prevailing ``withColumn(n_items, size(arr)) + explode(arr)`` shape
    evaluates the whole from_json chain twice per row (plus once more in
    any pushed-down filter). Wrapping the (count, items) struct in the
    same Generate barrier as parsed_once pins one evaluation; the explode
    then reads the materialized struct. Empty/null arrays drop the row —
    identical to exploding the raw array."""

    def _apply(df):
        # the struct holds ONLY the parsed array: __env is a Generate
        # output attribute, so the size() below reads materialized data —
        # putting size(arr_expr) inside the struct would re-evaluate the
        # whole from_json chain a second time per row
        env = F.struct(arr_expr.alias("__items"))
        return (
            df.select("*", F.explode(F.array(env)).alias("__env"))
            .withColumn(n_alias, F.size("__env.__items"))
            .select("*", F.explode("__env.__items").alias(alias))
            .drop("__env")
        )

    return _apply


def explode_env_with_count(
    env_expr: Column,
    items_field: str,
    keep=None,
    alias: str = "d",
    n_alias: str = "n_items",
):
    """``df.transform(explode_env_with_count(env, "result", keep=...))``:
    parse a WHOLE-message envelope exactly once, filter on its fields, and
    fan out ``env.<items_field>`` with its element count.

    This is the one-tokenization form of the channel-probe + extract +
    nested-from_json chain (3 JSON scans per row -> 1): the envelope sits
    behind the same Generate barrier as parsed_once, and ``keep`` runs on
    the materialized struct — a predicate on a generator output cannot be
    pushed below the Generate, so the parse is never re-evaluated. Rows
    whose payload does not match the envelope schema parse to nulls
    (PERMISSIVE) and are dropped by ``keep`` / the explode, matching the
    raw-text probe's routing behavior."""

    def _apply(df):
        wrapped = F.struct(env_expr.alias("__e"))
        out = df.select("*", F.explode(F.array(wrapped)).alias("__env"))
        if keep is not None:
            out = out.filter(keep(F.col("__env.__e")))
        return (
            out.withColumn(n_alias, F.size(f"__env.__e.{items_field}"))
            .select("*", F.explode(f"__env.__e.{items_field}").alias(alias))
            .drop("__env")
        )

    return _apply


def quantity_triple(
    market_type: Column, price: Column, quantity: Column, contract_value: Column
) -> Column:
    """(quantity_base, quantity_quote, quantity_contract) as a struct column.

    Reimplements calc_quantity_and_volume
    (crypto-msg-parser/src/exchanges/utils.rs:33-58) exactly, including the
    round9 placement:
      Spot:            (q,            round9(q*p),        NULL)
      Inverse*:        (q*cv/p,       q*cv,               q)
      Linear*/Move/BVOL:(round9(q*cv), round9(q*cv*p),    q)
      EuropeanOption:  (q*cv,         q*cv*p,             q)
    """
    qq_inv = quantity * contract_value
    qb_lin = quantity * contract_value
    qb = (
        F.when(market_type == SPOT, quantity)
        .when(market_type.isin(*INVERSE), qq_inv / price)
        .when(market_type.isin(*LINEARISH), round9(qb_lin))
        .when(market_type == EUROPEAN_OPTION, qb_lin)
    )
    qq = (
        F.when(market_type == SPOT, round9(quantity * price))
        .when(market_type.isin(*INVERSE), qq_inv)
        .when(market_type.isin(*LINEARISH), round9(qb_lin * price))
        .when(market_type == EUROPEAN_OPTION, qb_lin * price)
    )
    qc = F.when(market_type == SPOT, F.lit(None).cast("double")).otherwise(quantity)
    return F.struct(
        qb.alias("quantity_base"),
        qq.alias("quantity_quote"),
        qc.alias("quantity_contract"),
    )


def normalize_pair_with_quotes(symbol: Column, quotes: list[str]) -> Column:
    """BASEQUOTE -> BASE/QUOTE by quote-suffix matching.

    The reference iterates a HashSet (crypto-pair/src/exchanges/utils.rs:22-31)
    — nondeterministic on conflicting suffixes; the engine matches the
    LONGEST quote first, which agrees on every unambiguous symbol (all the
    reference's tests) and is deterministic on the rest.
    """
    # single anchored alternation: the leftmost match start that reaches $
    # is automatically the LONGEST matching suffix, and one compiled regex
    # per row keeps this inside whole-stage codegen (a per-quote when-ladder
    # was 34 regexes per row and throttled the parse stage at high core
    # counts)
    pattern = "(" + "|".join(sorted(quotes, key=len, reverse=True)) + ")$"
    quote = F.regexp_extract(symbol, pattern, 1)
    base = symbol.substr(F.lit(1), F.length(symbol) - F.length(quote))
    return F.when(
        (quote != "") & (F.length(symbol) > F.length(quote)),
        F.upper(F.concat(base, F.lit("/"), quote)),
    ).otherwise(F.lit(None).cast("string"))


def sort_book_sides(df, snapshot_col: str = "snapshot"):
    """Central post-pass (crypto-msg-parser/src/lib.rs:148-161): for
    snapshots, asks ascending / bids descending by price. Struct arrays sort
    lexicographically — price is the first field, so array_sort works."""
    is_snap = F.col(snapshot_col)
    sides = {
        "asks": F.when(is_snap, F.array_sort("asks")).otherwise(F.col("asks")),
        "bids": F.when(is_snap, F.reverse(F.array_sort("bids"))).otherwise(
            F.col("bids")
        ),
    }
    return df.select(*[sides.get(c, F.col(c)).alias(c) for c in df.columns])


def emit(df, schema, exchange, msg_type, **fields):
    """Project ``df`` onto an output schema, in the schema's field order —
    the engine twin of the reference's ``add_common_fields!``
    (crypto-message/src/lib.rs:12-45): an arm supplies only what is
    specific to it.

    Each field of ``schema`` is
      - ``exchange`` / ``msg_type``: a string becomes a literal, a Column
        is used as given;
      - any other field given as a keyword: that Column;
      - ``json`` when not given: the raw ``msg``;
      - a column of ``df`` with the field's name: passed through;
      - otherwise NULL.
    Primitive fields are cast to the declared type; nested array/struct
    fields are selected as built (casting would fight nullability flags).

    The casts sit in a second projection, which Catalyst collapses into
    the first. Cast-and-alias in the building projection would shadow
    the input's pass-through columns, and Spark resolves a reference to
    such a name inside a lambda (``transform(levels, ...)``) to the
    alias, not to the input column."""
    unknown = set(fields) - set(schema.fieldNames())
    if unknown:
        raise ValueError(f"not fields of the output schema: {sorted(unknown)}")
    given = {
        "exchange": F.lit(exchange) if isinstance(exchange, str) else exchange,
        "msg_type": F.lit(msg_type) if isinstance(msg_type, str) else msg_type,
        "json": F.col("msg"),
        **fields,
    }
    present = set(df.columns)
    built, cast = [], []
    for f in schema.fields:
        if f.name in given:
            built.append(given[f.name].alias(f.name))
        elif f.name in present:
            built.append(F.col(f.name))
        else:
            built.append(F.lit(None).cast(f.dataType).alias(f.name))
        c = F.col(f.name)
        if f.dataType.typeName() not in ("array", "struct", "map"):
            c = c.cast(f.dataType)
        cast.append(c.alias(f.name))
    return df.select(*built).select(*cast)


def item_json() -> Column:
    """json provenance of a fanned-out record ``d`` (``n_items`` records in
    its message): the whole raw message when it held exactly one record
    (byte-identical to the reference), else the element's canonical
    ``to_json`` form — the reference re-serializes fan-out elements
    through a HashMap, whose key order is not deterministic."""
    return F.when(F.col("n_items") == 1, F.col("msg")).otherwise(F.to_json("d"))


def order_level(
    market_type: Column, price: Column, quantity: Column, contract_value: Column
) -> Column:
    """One orderbook level (schemas.ORDER_STRUCT) whose quantities come
    from ``quantity_triple``."""
    t = quantity_triple(market_type, price, quantity, contract_value)
    return F.struct(
        price.alias("price"),
        t["quantity_base"].alias("quantity_base"),
        t["quantity_quote"].alias("quantity_quote"),
        t["quantity_contract"].alias("quantity_contract"),
    )


def spot_level(price: Column, quantity: Column) -> Column:
    """One orderbook level with the un-rounded quote quantity
    ``price * quantity`` and no contract quantity — the spot books whose
    reference arms multiply without ``round9`` (unlike
    ``quantity_triple``)."""
    return F.struct(
        price.alias("price"),
        quantity.alias("quantity_base"),
        (price * quantity).alias("quantity_quote"),
        F.lit(None).cast("double").alias("quantity_contract"),
    )
