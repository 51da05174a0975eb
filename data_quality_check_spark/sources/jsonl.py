"""Raw-JSON ingest + schema validation: the reference's core operator family
re-expressed over columns of JSON strings.

Maps, operator by operator (SURVEY §2.1):
  D1 JSON parse / well-formedness  (json_validation.rs:36-40)
     → try-parse via from_json null-check → reason 'malformed'
  D2 JSON unescape (double-encoded) (json_validation.rs:151-163)
     → when(starts/ends with '"', from_json(col, 'string'))
  D3 schema conformance + UNKNOWN-FIELD REJECTION over the FULL type
     matrix (dynamic-message/src/lib.rs:22-247 dispatches double/float,
     i32, i64, u32 range-checked, u64, bool, string, bytes-base64, enum
     name→number, nested message recursion; unknown keys at 249-251)
     → spec-driven arms: numeric/bool kinds use from_json PERMISSIVE
       null-detection; string/bytes/enum/struct kinds use the VARIANT type
       inspector (schema_of_variant ≙ DuckDB json_type); structs recurse.
  D4 round-trip serialization (lib.rs:261-282)
     → to_json(struct) — defaults materialized by the struct itself
  D5 field presence + equality   (json_validation.rs:165-194)
     → require_field() on ANY JSON scalar (string / int / bool), with
       distinct missing/mismatch reasons; the reference's field_check
       value is Option<JsonValue>, not just a string
  D6 orchestration               (json_validation.rs:17-149)
     → validate_json_records(): ONE narrow select chain

All native expressions — the whole validation is a single Spark stage.
The DuckDB oracle twin (validation_oracle_sql) is GENERATED from the same
FieldSpec tree, arm by arm, so Spark and the oracle cannot drift.

Engine-parity notes (probed, pinned by tests/test_jsonl.py):
  * Spark from_json PERMISSIVE nulls a leaf whose JSON type cannot
    populate the declared type; int is range-checked (2147483648 → null),
    matching the reference's u32 range check (lib.rs:74-86). DuckDB twin:
    explicit json_type allow-lists + TRY_CAST range guards.
  * schema_of_variant(try_variant_get(...)) names map 1:1 onto DuckDB
    json_type for the string family: STRING↔VARCHAR, OBJECT<..>↔OBJECT.
  * JSON null is tolerated like a missing field (reference iterates
    present keys only, lib.rs:18-19) — except for required-field equality,
    where null ≠ the required value.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

# shared Spark/DuckDB/RE2-safe base64 alphabet check (explicit classes,
# no \d/\w, no lookaround — CLAUDE.md regex subset)
B64_RE = "^([A-Za-z0-9+/]{4})*([A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"


@dataclass(frozen=True)
class FieldSpec:
    """One declared field — the analog of one descriptor-pool field entry
    (protobuf_descriptors.rs builds these from .proto; here they are
    explicit). kind ∈ string|int|long|u64|double|bool|bytes|bytes_raw|
    enum|struct.

    `bytes` is the proto3-JSON-canonical arm (base64-validated string);
    `bytes_raw` matches the reference's Kind::Bytes exactly
    (dynamic-message/src/lib.rs:167-190: ANY JSON string accepted, its
    raw UTF-8 taken as the bytes — no base64 there). `u64` is the
    Uint64/Fixed64 arm (lib.rs:107-128): integer-written values in
    [0, 2^64). Enum numbers are the vocab index (0-based), standing in
    for the descriptor-assigned numbers the reference resolves
    (lib.rs:191-221)."""

    name: str
    kind: str = "string"
    enum_vocab: tuple[str, ...] = ()
    fields: tuple["FieldSpec", ...] = ()


# JSON-carried transcript fields (ts arrives as epoch seconds, like the
# parquet fixture derivation)
TRANSCRIPT_SPEC: tuple[FieldSpec, ...] = (
    FieldSpec("conv_id", "string"),
    FieldSpec("turn_idx", "int"),
    FieldSpec("role", "string"),
    FieldSpec("text", "string"),
    FieldSpec("tool", "string"),
    FieldSpec("ts_epoch", "long"),
)

# Full-matrix spec exercising every dispatch arm of the reference
# (dynamic-message/src/lib.rs:22-247): double, bool, bytes(base64), enum,
# and one nested message with its own string/long children.
EXTENDED_SPEC: tuple[FieldSpec, ...] = TRANSCRIPT_SPEC + (
    FieldSpec("score", "double"),
    FieldSpec("flag", "bool"),
    FieldSpec("blob", "bytes"),
    FieldSpec("braw", "bytes_raw"),
    FieldSpec("big", "u64"),
    FieldSpec("kind", "enum", enum_vocab=("chat", "task", "note")),
    FieldSpec("meta", "struct", fields=(
        FieldSpec("lang", "string"),
        FieldSpec("v", "long"),
    )),
)

_SPARK_TYPES = {
    "string": T.StringType(), "int": T.IntegerType(),
    "long": T.LongType(), "double": T.DoubleType(),
    "bool": T.BooleanType(), "bytes": T.StringType(),
    "bytes_raw": T.StringType(), "u64": T.DecimalType(20, 0),
    "enum": T.StringType(),
}

U64_MAX = "18446744073709551615"  # 2^64 - 1
# integer-written, non-negative, ≤ 20 digits (explicit classes — CLAUDE.md
# regex subset). The variant normalizes 1.0 → DECIMAL(1,0), erasing the
# written form, so the u64 arm checks the RAW literal text: serde_json
# parses 1.0 as f64 and the reference's as_u64() then rejects it.
U64_RE = "^(0|[1-9][0-9]{0,19})$"


def build_struct(spec: tuple[FieldSpec, ...]) -> T.StructType:
    out = []
    for f in spec:
        if f.kind == "struct":
            out.append(T.StructField(f.name, build_struct(f.fields)))
        else:
            out.append(T.StructField(f.name, _SPARK_TYPES[f.kind]))
    return T.StructType(out)


def unescape(col: Column) -> Column:
    """D2: if the payload is a double-encoded JSON string ("{\"a\":1}"),
    decode one level; otherwise pass through (json_validation.rs:151-163).

    from_json only takes struct/array/map schemas, so the scalar string is
    decoded by wrapping it into a one-field object first."""
    looks_escaped = col.startswith('"') & col.endswith('"')
    wrapped = F.concat(F.lit('{"v":'), col, F.lit("}"))
    inner = F.from_json(wrapped, "v string").getField("v")
    return F.when(looks_escaped & inner.isNotNull(), inner).otherwise(col)


# canonical violation order (deterministic output, comparable byte-for-byte)
REASON_ORDER = ("malformed", "unknown_field", "type_mismatch",
                "enum_mismatch", "missing_field", "field_mismatch")


def _vtype(var_col: str, path: str) -> Column:
    """Per-row JSON type of the value at `path` — Spark's analog of DuckDB
    json_type (STRING / BIGINT / DECIMAL / DOUBLE / BOOLEAN / VOID /
    OBJECT<..> / ARRAY<..>), via the VARIANT inspector over a variant
    column parsed ONCE per record."""
    return F.expr(
        f"schema_of_variant(try_variant_get({var_col}, '{path}'))")


def _not_false(c: Column) -> Column:
    return F.coalesce(c, F.lit(False))


def _spark_arms(spec, parsed: Column, path: str,
                keys: Column, var_col: str = "_var",
                src_col: str = "_src",
                ) -> dict[str, list[Column]]:
    """Per-kind mismatch conditions for one struct level (recursive).

    All per-field probes read the VARIANT column (parsed once per record):
    child keys come from serializing just the already-parsed subtree
    (to_json(try_variant_get(...)) — O(subtree)), never from re-parsing
    the raw string per struct field (r02's 3+-parses-per-record tax).
    Sole exception: the u64 arm reads the raw literal text once per u64
    field (get_json_object) — the variant normalizes 1.0 to DECIMAL(1,0),
    erasing the integer-written distinction the reference's as_u64()
    enforces."""
    arms: dict[str, list[Column]] = {
        "type_mismatch": [], "enum_mismatch": [], "unknown_field": []}
    names = [f.name for f in spec]
    arms["unknown_field"].append(
        _not_false(F.exists(keys, lambda k: ~k.isin(*names))))
    for f in spec:
        p = f"{path}.{f.name}"
        # ONE variant access answers both "is the key present with a
        # non-null value" (absent → SQL NULL, JSON null → VOID) and "what
        # JSON type is it" — no per-field get_json_object re-parse
        vt = F.coalesce(_vtype(var_col, p), F.lit("VOID"))
        has_val = vt != "VOID"
        leaf = parsed[f.name]
        if f.kind in ("int", "long", "double", "bool"):
            # PERMISSIVE from_json nulls an unpopulatable leaf; int is
            # range-checked by the parser itself (u32 analog)
            arms["type_mismatch"].append(has_val & leaf.isNull())
        elif f.kind == "u64":
            # integer-written (raw-text regex), non-string, value in
            # [0, 2^64): the decimal(20,0) leaf holds any ≤20-digit value,
            # so the upper bound is an explicit comparison
            raw = F.get_json_object(F.col(src_col), p)
            ok = ((vt != "STRING")
                  & _not_false(raw.rlike(U64_RE))
                  & _not_false(leaf <= F.lit(U64_MAX).cast("decimal(20,0)")))
            arms["type_mismatch"].append(has_val & ~ok)
        elif f.kind in ("string", "bytes_raw"):
            # bytes_raw ≙ the reference's Kind::Bytes (lib.rs:167-190):
            # any JSON string is accepted; its UTF-8 bytes are the value
            arms["type_mismatch"].append(has_val & (vt != "STRING"))
        elif f.kind == "bytes":
            arms["type_mismatch"].append(
                has_val & ((vt != "STRING")
                           | ~_not_false(leaf.rlike(B64_RE))))
        elif f.kind == "enum":
            arms["enum_mismatch"].append(
                has_val & ((vt != "STRING")
                           | ~_not_false(leaf.isin(*f.enum_vocab))))
        elif f.kind == "struct":
            is_obj = vt.startswith("OBJECT")
            arms["type_mismatch"].append(has_val & ~is_obj)
            child_keys = F.json_object_keys(
                F.expr(f"to_json(try_variant_get({var_col}, '{p}'))"))
            sub = _spark_arms(f.fields, leaf, p, child_keys, var_col,
                              src_col)
            for k, cs in sub.items():
                arms[k].extend(_not_false(has_val & is_obj & c) for c in cs)
        else:
            raise ValueError(f"unknown kind {f.kind!r}")
    return arms


def _roundtrip_col(spec, parsed: Column) -> Column:
    """Canonical serialization struct (D4, lib.rs:261-282): enum names
    materialize as their NUMBER (vocab index — the reference resolves
    name→number before serializing, lib.rs:191-221) and raw-bytes fields
    serialize as base64 of their UTF-8 bytes (the protobuf-JSON bytes
    representation); structs recurse."""
    cols = []
    for f in spec:
        leaf = parsed[f.name]
        if f.kind == "enum":
            num = (F.array_position(
                F.array(*[F.lit(v) for v in f.enum_vocab]), leaf) - 1
            ).cast("int")
            c = F.when(leaf.isNotNull(), num)
        elif f.kind == "bytes_raw":
            c = F.when(leaf.isNotNull(),
                       F.base64(F.encode(leaf, "UTF-8")))
        elif f.kind == "struct":
            c = F.when(leaf.isNotNull(), _roundtrip_col(f.fields, leaf))
        else:
            c = leaf
        cols.append(c.alias(f.name))
    return F.struct(*cols)


def _render_required(value) -> tuple[str, tuple[str, ...]]:
    """(raw-text rendering, allowed Spark variant types) for a typed
    required_value — D5 takes any JSON scalar (json_validation.rs:165-194)."""
    if isinstance(value, bool):
        return ("true" if value else "false"), ("BOOLEAN",)
    if isinstance(value, int):
        return str(value), ("BIGINT",)
    if isinstance(value, str):
        return value, ("STRING",)
    raise TypeError(f"required_value must be str/int/bool, got {value!r}")


def validate_json_records(
    df: DataFrame,
    json_col: str = "raw",
    *,
    spec: tuple[FieldSpec, ...] = TRANSCRIPT_SPEC,
    json_escaped: bool = True,
    required_field: str | None = None,
    required_value=None,
) -> DataFrame:
    """D6: parse → conformance-check → round-trip each JSON record.

    Adds columns: `valid` (bool), `violations` (array<string> in
    REASON_ORDER), `roundtrip` (canonical JSON, D4), plus the parsed
    top-level columns. Every arm is a native expression (one stage).
    """
    raw = F.col(json_col)
    src = unescape(raw) if json_escaped else raw
    out = df.withColumn("_src", src)

    parsed = F.from_json(F.col("_src"), build_struct(spec))
    out = out.withColumn("_parsed", parsed)
    out = out.withColumn("_var", F.expr("try_parse_json(_src)"))
    # D1: well-formedness + top-level-must-be-object (lib.rs:253-255) —
    # json_object_keys yields non-null only for a JSON object.
    # Materialized in their OWN columns (like _src/_parsed/_var): the keys
    # array is referenced by every flag arm plus each output column, and an
    # inline json_object_keys would re-parse the raw JSON once per
    # reference (measured 20 parses/record in the extended-spec plan —
    # the same r02 tax the _var column already fixed for child keys).
    out = out.withColumn("_keys", F.json_object_keys(F.col("_src")))
    out = out.withColumn(
        "_malformed", F.col("_src").isNull() | F.col("_keys").isNull())
    obj_keys = F.col("_keys")
    malformed = F.col("_malformed")

    arms = _spark_arms(spec, F.col("_parsed"), "$", obj_keys)

    def any_of(cs):
        cond = F.lit(False)
        for c in cs:
            cond = cond | _not_false(c)
        return cond

    flags = [
        ("malformed", malformed),
        ("unknown_field", ~malformed & any_of(arms["unknown_field"])),
        ("type_mismatch", ~malformed & any_of(arms["type_mismatch"])),
        ("enum_mismatch", ~malformed & any_of(arms["enum_mismatch"])),
    ]
    # D5: optional field presence + TYPED equality with distinct reasons
    # (json_validation.rs:173-183 mismatch, 184-188 missing)
    if required_field is not None:
        present = ~malformed & _not_false(F.arrays_overlap(
            obj_keys, F.array(F.lit(required_field))))
        flags.append(("missing_field", ~malformed & ~present))
        if required_value is not None:
            text, vtypes = _render_required(required_value)
            # casting the variant scalar renders exactly like the raw-text
            # forms _render_required emits (unquoted string / digits /
            # true|false) — no get_json_object re-parse of _src
            rv = F.expr(
                f"cast(try_variant_get(_var, '$.{required_field}') as string)")
            vt = _vtype("_var", f"$.{required_field}")
            ok = vt.isin(*vtypes) & rv.eqNullSafe(F.lit(text))
            flags.append(("field_mismatch", present & ~_not_false(ok)))

    violations = F.filter(
        F.array(*[F.when(cond, F.lit(name)) for name, cond in flags]),
        lambda x: x.isNotNull(),
    )
    valid = F.size(violations) == 0
    out = out.withColumn("violations", violations)
    out = out.withColumn("valid", valid)
    # D4: round-trip — canonical serialization of the populated record
    # (enum numbers + base64 bytes via the serialization struct)
    out = out.withColumn(
        "roundtrip",
        F.when(valid, F.to_json(_roundtrip_col(spec, F.col("_parsed")))))
    for f in spec:
        out = out.withColumn(
            f.name, F.when(~malformed, F.col("_parsed")[f.name]))
    return out.drop("_src", "_parsed", "_var", "_keys", "_malformed")


def to_transcript(validated: DataFrame) -> DataFrame:
    """Valid records → typed transcript table (ts from epoch seconds)."""
    return (
        validated.filter("valid")
        .select(
            "conv_id", "turn_idx", "role", "text", "tool",
            F.timestamp_seconds(F.col("ts_epoch")).alias("ts"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twin — GENERATED from the same FieldSpec tree
# ---------------------------------------------------------------------------

def _duck_arms(spec, path: str = "$") -> dict[str, list[str]]:
    """DuckDB SQL conditions mirroring _spark_arms arm by arm. `s` is the
    sanitized JSON column. json_type ↔ schema_of_variant, TRY_CAST range
    guards ↔ from_json's parser ranges."""
    arms: dict[str, list[str]] = {
        "type_mismatch": [], "enum_mismatch": [], "unknown_field": []}
    names = ", ".join(f"'{f.name}'" for f in spec)
    keys = f"json_keys(s, '{path}')"
    arms["unknown_field"].append(
        f"coalesce(len(list_filter({keys}, k -> k NOT IN ({names}))) > 0,"
        f" FALSE)")
    for f in spec:
        p = f"{path}.{f.name}"
        jt = f"json_type(s, '{p}')"
        txt = f"json_extract_string(s, '{p}')"
        has = (f"(coalesce(list_contains({keys}, '{f.name}'), FALSE)"
               f" AND {jt} IS NOT NULL AND {jt} <> 'NULL')")
        if f.kind == "int":
            # coalesce: TRY_CAST of a u64-range literal is NULL, and
            # NULL BETWEEN would otherwise null out the whole arm
            bad = (f"NOT ({jt} IN ('BIGINT','UBIGINT') AND "
                   f"coalesce(TRY_CAST({txt} AS BIGINT) BETWEEN "
                   f"-2147483648 AND 2147483647, FALSE))")
            arms["type_mismatch"].append(f"({has} AND {bad})")
        elif f.kind == "long":
            bad = (f"NOT ({jt} IN ('BIGINT','UBIGINT') AND TRY_CAST({txt} "
                   f"AS BIGINT) IS NOT NULL)")
            arms["type_mismatch"].append(f"({has} AND {bad})")
        elif f.kind == "u64":
            # UBIGINT covers exactly [0, 2^64); json_type excludes
            # fraction/exponent-written numbers (they come back DOUBLE)
            bad = (f"NOT ({jt} IN ('BIGINT','UBIGINT') AND TRY_CAST({txt} "
                   f"AS UBIGINT) IS NOT NULL)")
            arms["type_mismatch"].append(f"({has} AND {bad})")
        elif f.kind == "double":
            arms["type_mismatch"].append(
                f"({has} AND {jt} NOT IN ('DOUBLE','BIGINT','UBIGINT'))")
        elif f.kind == "bool":
            arms["type_mismatch"].append(f"({has} AND {jt} <> 'BOOLEAN')")
        elif f.kind in ("string", "bytes_raw"):
            arms["type_mismatch"].append(f"({has} AND {jt} <> 'VARCHAR')")
        elif f.kind == "bytes":
            arms["type_mismatch"].append(
                f"({has} AND NOT ({jt} = 'VARCHAR' AND "
                f"regexp_full_match({txt}, '{B64_RE}')))")
        elif f.kind == "enum":
            vocab = ", ".join(f"'{v}'" for v in f.enum_vocab)
            arms["enum_mismatch"].append(
                f"({has} AND NOT ({jt} = 'VARCHAR' AND {txt} IN ({vocab})))")
        elif f.kind == "struct":
            arms["type_mismatch"].append(f"({has} AND {jt} <> 'OBJECT')")
            sub = _duck_arms(f.fields, p)
            guard = f"({has} AND {jt} = 'OBJECT')"
            for k, cs in sub.items():
                arms[k].extend(f"coalesce({guard} AND {c}, FALSE)"
                               for c in cs)
    return arms


def validation_oracle_sql(required_field: str = "role",
                          required_value="user",
                          spec: tuple[FieldSpec, ...] = EXTENDED_SPEC) -> str:
    """DuckDB twin of validate_json_records() over fixture_sql('duckdb')."""
    return validation_oracle_sql_over(fixture_sql("duckdb"),
                                      required_field, required_value, spec)


def validation_oracle_sql_over(source_sql: str,
                               required_field: str = "role",
                               required_value="user",
                               spec: tuple[FieldSpec, ...] = EXTENDED_SPEC,
                               ) -> str:
    """DuckDB twin over ANY source producing (doc_id, raw) — used by the
    gate (fixture source) and by the property fuzzer (random payloads)."""
    arms = _duck_arms(spec)
    unknown = " OR ".join(arms["unknown_field"])
    mismatch = " OR ".join(arms["type_mismatch"]) or "FALSE"
    enum_bad = " OR ".join(arms["enum_mismatch"]) or "FALSE"
    text, vtypes = _render_required(required_value)
    duck_types = {"STRING": "('VARCHAR')", "BIGINT": "('BIGINT','UBIGINT')",
                  "BOOLEAN": "('BOOLEAN')"}[vtypes[0]]
    rf = required_field
    # `safe` shields json_type/json_extract from malformed payloads (DuckDB
    # evaluates CASE branches vectorized, so guards alone don't protect);
    # malformed rows are replaced by '{}' BEFORE any json_keys/json_type call
    return f"""
WITH fixture AS ({source_sql}),
fx AS (SELECT doc_id, raw,
       CASE WHEN json_valid(raw) THEN raw ELSE '""' END AS safe
       FROM fixture),
un AS (SELECT doc_id,
      CASE WHEN raw LIKE '"%"' AND json_valid(raw)
                AND json_type(safe::JSON) = 'VARCHAR'
           THEN json_extract_string(safe, '$')
      ELSE raw END AS s FROM fx),
flagged AS (
  SELECT doc_id,
    pre_malformed OR json_type(s::JSON) <> 'OBJECT' AS malformed,
    CASE WHEN NOT pre_malformed AND json_type(s::JSON) = 'OBJECT'
         THEN s ELSE '{{}}' END AS s
  FROM (SELECT doc_id, CASE WHEN json_valid(s) THEN s ELSE '{{}}' END AS s,
               NOT json_valid(s) AS pre_malformed FROM un)
),
reasons AS (
  SELECT doc_id,
    list_filter([
      CASE WHEN malformed THEN 'malformed' END,
      CASE WHEN NOT malformed AND ({unknown}) THEN 'unknown_field' END,
      CASE WHEN NOT malformed AND ({mismatch}) THEN 'type_mismatch' END,
      CASE WHEN NOT malformed AND ({enum_bad}) THEN 'enum_mismatch' END,
      CASE WHEN NOT malformed AND NOT coalesce(
        list_contains(json_keys(s), '{rf}'), FALSE)
        THEN 'missing_field' END,
      CASE WHEN NOT malformed AND coalesce(
        list_contains(json_keys(s), '{rf}'), FALSE) AND NOT coalesce(
        json_type(s, '$.{rf}') IN {duck_types}
        AND json_extract_string(s, '$.{rf}') = '{text}', FALSE)
        THEN 'field_mismatch' END
    ], x -> x IS NOT NULL) AS violations
  FROM flagged
)
SELECT doc_id,
  coalesce(list_aggregate(violations, 'string_agg', ','), '') AS violations,
  len(violations) = 0 AS valid
FROM reasons
"""


# ---------------------------------------------------------------------------
# deterministic raw-JSON fixture (gate twin of sources/transcripts.py)
# ---------------------------------------------------------------------------

def fixture_sql(dialect: str) -> str:
    """SELECT doc_id, raw — JSON records derived from `documents` by doc_id
    arithmetic, with injected anomalies covering EVERY dispatch arm of the
    reference's type matrix (the JSON analog of
    /root/reference/data/input/test/example.json):

      %11 → malformed (closing brace dropped)   %13 → unknown key "bogus"
      %17 → turn_idx as string (type mismatch)  %19 → double-encoded payload
      %23 → role key missing                    %29 → flag as string (bool)
      %31 → score as string (double)            %37 → blob invalid base64
      %41 → kind outside enum vocab             %43 → meta unknown child key
      %47 → meta.lang as number (nested type)   %53 → meta as scalar
      %59 → turn_idx above i32 range (u32-style range check)
      %61 → big = 2^64 (u64 overflow)           %67 → big negative
      %71 → braw as number (bytes_raw wants any string)
      default big = 1844674407370955161x ∈ [2^63, 2^64) — the range only
      the u64 arm validates

    Built with plain string concatenation so Spark SQL and DuckDB produce
    byte-identical records. `dialect` ∈ {'spark', 'duckdb'}.
    """
    if dialect == "spark":
        cast, esc = "STRING", r"'\\\"'"
    else:
        cast, esc = "VARCHAR", "'\\\"'"
    did = f"CAST(doc_id AS {cast})"
    role = ("CASE WHEN doc_id % 4 = 0 THEN 'user' "
            "WHEN doc_id % 4 = 1 THEN 'assistant' "
            "WHEN doc_id % 4 = 2 THEN 'system' ELSE 'tool' END")
    kind = ("CASE WHEN doc_id % 41 = 0 THEN 'alien' "
            "WHEN doc_id % 3 = 0 THEN 'chat' "
            "WHEN doc_id % 3 = 1 THEN 'task' ELSE 'note' END")
    meta = (
        "CASE WHEN doc_id % 53 = 0 THEN '7' "
        "WHEN doc_id % 47 = 0 THEN '{\"lang\":5,\"v\":1}' "
        "WHEN doc_id % 43 = 0 THEN '{\"lang\":\"en\",\"surprise\":1}' "
        f"ELSE '{{\"lang\":\"en\",\"v\":' || {did} || '}}' END"
    )
    j0 = (
        f"'{{\"conv_id\":\"c' || CAST(doc_id % 7 AS {cast}) || '\",' || "
        f"'\"turn_idx\":' || CASE WHEN doc_id % 17 = 0 THEN '\"x9\"' "
        f"WHEN doc_id % 59 = 0 THEN '3000000000' "
        f"ELSE {did} END || ',' || "
        f"CASE WHEN doc_id % 23 = 0 THEN '' "
        f"ELSE '\"role\":\"' || {role} || '\",' END || "
        f"'\"text\":\"t' || {did} || '\",' || "
        f"CASE WHEN doc_id % 13 = 0 THEN '\"bogus\":1,' ELSE '' END || "
        f"'\"score\":' || CASE WHEN doc_id % 31 = 0 THEN '\"high\"' "
        f"ELSE '0.5' END || ',' || "
        f"'\"flag\":' || CASE WHEN doc_id % 29 = 0 THEN '\"yes\"' "
        f"WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END || ',' || "
        f"'\"blob\":\"' || CASE WHEN doc_id % 37 = 0 THEN '!!!' "
        f"ELSE 'TURJ' END || '\",' || "
        f"'\"braw\":' || CASE WHEN doc_id % 71 = 0 THEN '7' "
        f"ELSE '\"r' || {did} || '\"' END || ',' || "
        f"'\"big\":' || CASE WHEN doc_id % 61 = 0 "
        f"THEN '18446744073709551616' "
        f"WHEN doc_id % 67 = 0 THEN '-3' "
        f"ELSE '1844674407370955161' || CAST(doc_id % 6 AS {cast}) "
        f"END || ',' || "
        f"'\"kind\":\"' || {kind} || '\",' || "
        f"'\"meta\":' || {meta} || ',' || "
        f"'\"ts_epoch\":' || CAST(1700000000 + doc_id AS {cast}) || '}}'"
    )
    return f"""
    SELECT doc_id,
      CASE
        WHEN doc_id % 11 = 0 THEN substr(j0, 1, length(j0) - 1)
        WHEN doc_id % 19 = 0 THEN '"' || replace(j0, '"', {esc}) || '"'
        ELSE j0
      END AS raw
    FROM (SELECT doc_id, {j0} AS j0 FROM documents)
    """


def read_jsonl(spark, path: str, *,
               spec: tuple[FieldSpec, ...] = TRANSCRIPT_SPEC,
               **validate_kw) -> DataFrame:
    """File source for newline-delimited JSON — the batch twin of the
    reference's HTTP ingestion (one line ≙ one /validate request body).

    spark.read.text keeps each line OPAQUE (no schema inference, no
    corrupt-record column games) so validate_json_records applies the
    exact same D1-D6 chain to file input as to any other raw column.
    Line splits are parallel (text source is splittable); everything
    downstream is the one-stage validation plan."""
    raw = spark.read.text(path).withColumnRenamed("value", "raw")
    return validate_json_records(raw, "raw", spec=spec, **validate_kw)


def write_jsonl(df: DataFrame, path: str,
                spec: tuple[FieldSpec, ...] = TRANSCRIPT_SPEC) -> None:
    """Round-trip sink: serialize the spec's columns back to one JSON
    object per line (D4 at table grain)."""
    cols = [f.name for f in spec]
    df.select(F.to_json(F.struct(*cols)).alias("value")) \
        .write.mode("overwrite").text(path)


def decode_descriptor_payload(col: Column) -> Column:
    """D8: base64 payload decode (handlers.rs:55-65) — config payloads
    arrive base64-encoded; invalid base64 → null (caller rejects)."""
    return F.try_to_binary(col, F.lit("base64"))
