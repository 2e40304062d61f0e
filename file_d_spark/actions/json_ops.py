"""JSON + regex parsing actions: json_decode, json_encode,
json_extract, decode, parse_re2, parse_es.

Reference cites:
  json_decode  /root/reference/plugin/action/json_decode/json_decode.go:34,84
  json_encode  /root/reference/plugin/action/json_encode/json_encode.go:32,58
  json_extract /root/reference/plugin/action/json_extract/json_extract.go:122-145,181
  decode       /root/reference/plugin/action/decode/decode.go:653-762
  parse_re2    /root/reference/plugin/action/parse_re2/parse_re2.go:27,66
  parse_es     /root/reference/plugin/action/parse_es/parse_es.go:21,42
"""

from __future__ import annotations

import re as _pyre

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from file_d_spark.actions.base import Action, register
from file_d_spark.decoders import get_decoder
from file_d_spark.fields import (
    drop_field,
    get_col_safe,
    parse_selector,
)


def _set_gated_batch(
    action: Action,
    df: DataFrame,
    fields: dict[str, Column],
    pred: Column | None,
) -> DataFrame:
    """Merge top-level ``fields`` with ONE ``withColumns`` call when
    that is provably equivalent to the sequential per-field
    ``set_gated`` loop, else fall back to the loop.

    Equivalence: sequential ``withColumn`` lets a later field's
    expression observe an earlier field's NEW value when their names
    collide; batch evaluation sees the pre-merge state for every
    expression.  The two agree whenever no target name exists in the
    pre-merge frame (an expression can only reference columns that
    exist before the merge, so no expression can reference a
    same-batch target).  The batch path matters for plan-build cost:
    each ``withColumn`` is a fresh DataFrame (a py4j round trip plus a
    schema re-fetch inside set_gated), and a 7-field decoder paid 7 of
    each per decode action (measured r13: ~3,100 py4j round trips /
    1.2 s of the decoder_lineformats plan build were this loop)."""
    if any(name in set(df.columns) for name in fields):
        for name, col in fields.items():
            df = action.set_gated(df, [name], col, pred)
        return df
    if pred is not None:
        # targets don't pre-exist, so the set_gated "old" value is NULL
        fields = {n: F.when(pred, c) for n, c in fields.items()}
    return df.withColumns(fields)


def _merge_fieldmap(
    action: Action,
    df: DataFrame,
    fieldmap: dict[str, Column],
    pred: Column | None,
    prefix: str = "",
    target_field: list[str] | None = None,
) -> DataFrame:
    """Merge a decoder's output fields into the event root (reference
    semantics: decoded object members land at root).  Runs of plain
    fields merge as one batched projection (see
    :func:`_set_gated_batch`); ``__struct__``/``__map__`` entries
    flush the run and keep their bespoke handling."""
    batch: dict[str, Column] = {}

    def flush(frame: DataFrame) -> DataFrame:
        nonlocal batch
        if batch:
            frame = _set_gated_batch(action, frame, batch, pred)
            batch = {}
        return frame

    for name, col in fieldmap.items():
        if name == "__struct__":
            df = flush(df)
            # declared-schema parse: splat struct members to root
            tmp = "__fd_decoded__"
            df = df.withColumn(tmp, col)
            struct_t = df.schema[tmp].dataType
            members = {
                prefix + f.name: F.col(tmp).getField(f.name)
                for f in struct_t.fields
            }
            df = _set_gated_batch(action, df, members, pred)
            df = df.drop(tmp)
        elif name == "__map__":
            df = flush(df)
            # schemaless parse: keep the map under the source field
            # (typed engines cannot splat unknown keys); the reference's
            # key prefix (json_decode.go:106-110) still applies
            if prefix:
                col = F.transform_keys(
                    col, lambda k, v: F.concat(F.lit(prefix), k)
                )
            tgt = target_field or ["decoded"]
            df = action.set_gated(df, tgt, col, pred)
        else:
            batch[prefix + name] = col
    return flush(df)


@register("json_decode")
class JsonDecode(Action):
    """Parse JSON string ``field`` and merge into root.  With a
    ``schema`` (DDL) param members splat to root (exact reference
    semantics for the declared keys); without one the parsed
    ``map<string,string>`` replaces the field."""

    def apply_impl(self, df: DataFrame, pred: Column | None) -> DataFrame:
        parts = parse_selector(self.params["field"])
        prefix = self.params.get("prefix", "")
        col = get_col_safe(parts, df.schema).cast("string")
        fm = get_decoder("json")(col, {"schema": self.params.get("schema")})
        df = _merge_fieldmap(self, df, fm, pred, prefix, target_field=parts)
        if self.params.get("keep_origin", False) or "__map__" in fm:
            return df
        return drop_field(df, parts)


@register("json_encode")
class JsonEncode(Action):
    """Replace ``field`` with its JSON string encoding."""

    def apply_impl(self, df: DataFrame, pred: Column | None) -> DataFrame:
        from pyspark.sql import types as T

        from file_d_spark.fields import schema_type_at

        parts = parse_selector(self.params["field"])
        col = get_col_safe(parts, df.schema)
        t = schema_type_at(df.schema, parts)
        if isinstance(t, (T.StructType, T.MapType, T.ArrayType)):
            encoded = F.to_json(col)
        elif isinstance(t, T.StringType):
            # JSON string literal: wrap in quotes with escapes
            encoded = F.concat(
                F.lit('"'),
                F.regexp_replace(
                    F.regexp_replace(col, r"\\", r"\\\\"), '"', '\\\\"'
                ),
                F.lit('"'),
            )
        elif isinstance(t, T.BooleanType) or t is None:
            encoded = col.cast("string")
        else:
            encoded = col.cast("string")
        return self.set_gated(df, parts, encoded, pred)


@register("json_extract")
class JsonExtract(Action):
    """Extract listed dot-paths from a JSON *string* field into root
    with ``prefix``.  Uses one ``get_json_object`` per path, and
    Catalyst does not share the parse between them: the optimized plan
    is one Project with a separate ``get_json_object`` call per path,
    so each path parses the input again (measured on a 4-core host:
    two paths cost 0.57-0.89 s over decode, one ``json_tuple`` key
    0.26-0.28 s).

    Truncated-JSON salvage caveat: when the strict parse fails, the
    best-effort regex recovery matches the key ANYWHERE in the line,
    not only at top level — for a truncated ``{"b":{"a":7},"x":`` it
    recovers a=7 even though ``$.a`` on the completed JSON would be
    NULL; a nested or string-embedded key can produce a value the
    strict parser never would.  Accepted for a salvage path (strict
    rows are unaffected: coalesce only consults the salvage when
    get_json_object returned NULL)."""

    def apply_impl(self, df: DataFrame, pred: Column | None) -> DataFrame:
        src = parse_selector(self.params["field"])
        prefix = self.params.get("prefix", "")
        # extract_field (deprecated singular) accepted alongside
        # extract_fields (json_extract.go Config)
        paths = self.params.get("extract_fields", [])
        if isinstance(paths, str):
            paths = [paths]
        single = self.params.get("extract_field")
        if single:
            paths = [single] + list(paths)
        col = get_col_safe(src, df.schema).cast("string")
        for p in paths:
            pparts = parse_selector(p)
            json_path = "$." + ".".join(
                f"['{x}']" if "." in x else x for x in pparts
            ).replace(".['", "['")
            out_name = prefix + pparts[-1]
            value = F.get_json_object(col, json_path)
            if len(pparts) == 1:
                # truncated-JSON salvage (json_extract_test.go
                # partial_json; insane-json parses what it can): when
                # the full parse failed, recover a COMPLETE top-level
                # "key":"value" pair by regex, unescaping via a
                # reconstructed one-field JSON.  coalesce runs it only
                # on rows where get_json_object returned NULL.
                key_re = _pyre.escape(pparts[0]).replace("\\", "\\\\")
                captured = F.regexp_extract(
                    col,
                    f'"{key_re}"\\s*:\\s*"((?:[^"\\\\]|\\\\.)*)"',
                    1,
                )
                salvage = F.when(
                    captured != "",
                    F.get_json_object(
                        F.concat(F.lit('{"v":"'), captured, F.lit('"}')),
                        "$.v",
                    ),
                )
                # non-string scalars cut off mid-event survive too:
                # numbers / true / false recovered verbatim (the same
                # string form get_json_object yields); a literal null
                # stays NULL, as the strict parse would return
                # the trailing delimiter lookahead rejects a number the
                # truncation cut mid-digits ('{"n":12<EOF>' might have
                # been 123456) — only values COMPLETE before the cut
                # are recovered
                scalar = F.regexp_extract(
                    col,
                    f'"{key_re}"\\s*:\\s*'
                    r"(-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?"
                    r"|true|false|null)(?=[,}\s\]])",
                    1,
                )
                scalar_salvage = F.when(
                    (scalar != "") & (scalar != "null"), scalar
                )
                value = F.coalesce(value, salvage, scalar_salvage)
            df = self.set_gated(df, [out_name], value, pred)
        return df


@register("decode")
class Decode(Action):
    """Run any decoder (§2.2) on a string field mid-pipeline and merge
    the result into root.  ``keep_origin`` keeps the source field.

    Divergence vs decode.go checkError: the reference passes the whole
    event untouched when decoding fails; a typed column cannot hold
    both the parsed shape and the raw string per row, so failed rows
    get NULL decoded fields instead (set keep_origin to retain the raw
    line alongside)."""

    def apply_impl(self, df: DataFrame, pred: Column | None) -> DataFrame:
        parts = parse_selector(self.params.get("field", "message"))
        decoder = get_decoder(self.params.get("decoder", "json"))
        prefix = self.params.get("prefix", "")
        col = get_col_safe(parts, df.schema).cast("string")
        fm = decoder(col, self.params.get("params") or self.params)
        # staged one-pass intermediates (decoders.py __pre__ contract):
        # project each layer as real columns so the regex runs once per
        # row instead of once per field, then drop them after the merge
        pre = fm.pop("__pre__", None) or []
        for layer in pre:
            df = df.withColumns(layer)
        df = _merge_fieldmap(self, df, fm, pred, prefix, target_field=parts)
        if pre:
            df = df.drop(*[name for layer in pre for name in layer])
        # the origin field is dropped unless kept explicitly — or unless
        # the decoder itself wrote a same-named field (e.g. postgres
        # "log"), which the reference overwrites in place
        decoded_names = {prefix + n for n in fm if not n.startswith("__")}
        if (
            not self.params.get("keep_origin", False)
            and "__map__" not in fm
            and ".".join(parts) not in decoded_names
        ):
            df = drop_field(df, parts)
        return df


@register("parse_re2")
class ParseRe2(Action):
    """Apply a regex with named groups to ``field``; each named group
    becomes a root field (with ``prefix``)."""

    def apply_impl(self, df: DataFrame, pred: Column | None) -> DataFrame:
        parts = parse_selector(self.params["field"])
        prefix = self.params.get("prefix", "")
        # reference config key is `re2` (parse_re2.go Config); `re`
        # kept as an alias for round-1 configs
        pattern = self.params.get("re2") or self.params["re"]
        col = get_col_safe(parts, df.schema).cast("string")
        group_index = _pyre.compile(pattern).groupindex
        if not group_index:
            raise ValueError("parse_re2 requires named capture groups")
        # Go/Python write named groups (?P<x>...); Java restricts group
        # names to alphanumerics (no underscores), so strip the names —
        # extraction is by group INDEX, which naming doesn't affect
        jpattern = _pyre.sub(r"\(\?P<[^>]+>", "(", pattern)
        matched = col.rlike(jpattern)
        for name, idx in group_index.items():
            v = F.regexp_extract(col, jpattern, idx)
            df = self.set_gated(
                df,
                [prefix + name],
                F.when(matched, v),
                pred,
            )
        # the source field is removed on match (parse_re2.go:79
        # jsonNode.Suicide()); non-matching rows keep it untouched
        src = get_col_safe(parts, df.schema)
        return self.set_gated(df, parts, F.when(~matched, src), pred)


@register("parse_es")
class ParseEs(Action):
    """Parse the ES ``_bulk`` line protocol: action lines
    (index/create) admit the FOLLOWING source line as an event;
    delete/update actions (and their payload lines) are dropped.

    Batch mapping: a lag() window over per-source arrival order — the
    pairing is sequential by nature, so this is the one projection that
    needs a window, partitioned by source to stay parallel
    (/root/reference/plugin/action/parse_es/parse_es.go:21,42).
    Expects ``field`` (the raw line), ``source_field`` and
    ``seq_field`` to identify per-source order.
    """

    shape_changing = True

    def apply_impl(self, df: DataFrame, pred: Column | None) -> DataFrame:
        line = get_col_safe(parse_selector(self.params.get("field", "line")), df.schema)
        source = self.params.get("source_field", "source_id")
        seq = self.params.get("seq_field", "seq")
        missing = [c for c in (source, seq) if c not in df.columns]
        if missing:
            raise ValueError(
                "parse_es: ordering column(s) "
                f"{missing} not in the frame (columns: {df.columns}); "
                "set source_field/seq_field to the per-source arrival "
                "order columns"
            )
        w = Window.partitionBy(source).orderBy(seq)
        action_type = F.coalesce(
            *[
                F.when(
                    F.get_json_object(line, f"$.{a}").isNotNull(), F.lit(a)
                )
                for a in ("index", "create", "delete", "update")
            ]
        )
        df = df.withColumn("__fd_action__", action_type)
        prev_action = F.lag("__fd_action__").over(w)
        keep = F.col("__fd_action__").isNull() & prev_action.isin("index", "create")
        # window expr can't live in a WHERE clause — materialize first
        return (
            df.withColumn("__fd_keep__", keep)
            .filter(F.col("__fd_keep__"))
            .drop("__fd_action__", "__fd_keep__")
        )
