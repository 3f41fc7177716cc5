"""Schema system — the reference's fixed, versioned, registered-per-tenant
schema (MiruSchema, m-api/.../activity/schema/MiruSchema.java:26-33, built
and validated by Builder.build :371-470) as a small dataclass registry.

Key properties mirrored:
* field definitions are explicit feature bundles over {indexed,
  indexedFirst, indexedLatest, indexedValueBits, multiValued, cardinality,
  stored} (MiruFieldDefinition.Type, MiruFieldDefinition.java:59-113);
* evolution is ADDITIVE-ONLY: fields may be appended, and an existing
  field's type may change only along Type.isAdditiveTo
  (MiruFieldDefinition.java:90-112, MiruSchema.checkAdditive :303-314);
* an unregistered schema refuses queries (MiruService.java:111-116) — here
  ``get_schema`` raises.

``build_index`` / ``build_persistent`` accept a schema object and derive the
tokenized text field (the multiTermCardinality field) and the aux mask
fields (indexed single-term fields) from it instead of ad-hoc arguments.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

# Type → feature bundle (MiruFieldDefinition.Type, :59-113)
TYPES: dict[str, frozenset[str]] = {
    "singleTerm": frozenset({"indexed", "stored"}),
    "singleTermIndexValueBits": frozenset({"indexedValueBits"}),
    "singleTermNonStored": frozenset({"indexed"}),
    "singleTermIndexLatest": frozenset({"indexed", "indexedLatest"}),
    "singleTermIndexLatestNonStored": frozenset({"indexed", "indexedLatest"}),
    "singleTermIndexFirst": frozenset({"indexedFirst"}),
    "singleTermIndexFirstNonStored": frozenset({"indexedFirst"}),
    "multiTerm": frozenset({"indexed", "multiValued", "stored"}),
    "multiTermNonStored": frozenset({"indexed", "multiValued"}),
    "multiTermCardinality": frozenset({"indexed", "multiValued", "cardinality", "stored"}),
    "multiTermCardinalityNonStored": frozenset({"indexed", "multiValued", "cardinality"}),
    "multiTermIndexFirst": frozenset({"indexedFirst", "multiValued"}),
    "multiTermIndexFirstNonStored": frozenset({"indexedFirst", "multiValued"}),
    "nonIndexed": frozenset({"stored"}),
    "nonIndexedNonStored": frozenset(),
}


def is_additive_to(new_type: str, old_type: str) -> bool:
    """Type.isAdditiveTo (MiruFieldDefinition.java:90-112), verbatim table."""
    if new_type == "nonIndexedNonStored":
        return True
    if new_type == "singleTermIndexValueBits":
        return old_type == "singleTerm"
    if new_type == "singleTerm":
        return old_type == "singleTermIndexValueBits"
    if new_type == "singleTermNonStored":
        return old_type in ("singleTerm", "singleTermIndexValueBits")
    if new_type == "multiTermNonStored":
        return old_type == "multiTerm"
    return False


PREFIX_TYPES = ("none", "raw", "numeric")


@dataclass(frozen=True)
class MiruFieldDefinition:
    field_id: int
    name: str
    type: str = "multiTerm"
    # MiruFieldDefinition.Prefix — term composition dialect: "numeric" fields
    # compose via the lexicographic fixed-width encoding (termcomp.py;
    # MiruTermComposer.Prefix.Type.numeric, MiruTermComposer.java:130-141)
    # so field:[lo TO hi] range masks run as term-range scans
    prefix: str = "none"

    def __post_init__(self):
        if self.type not in TYPES:
            raise ValueError(f"unknown field type {self.type!r}; one of {sorted(TYPES)}")
        if self.prefix not in PREFIX_TYPES:
            raise ValueError(f"unknown prefix type {self.prefix!r}; one of {PREFIX_TYPES}")

    def has_feature(self, feature: str) -> bool:
        return feature in TYPES[self.type]


@dataclass(frozen=True)
class MiruSchema:
    name: str
    version: int
    fields: tuple[MiruFieldDefinition, ...]

    def __post_init__(self):
        # Builder.build validation: dense field ids, unique names
        names = [f.name for f in self.fields]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate field names in schema {self.name}")
        ids = sorted(f.field_id for f in self.fields)
        if ids != list(range(len(self.fields))):
            raise ValueError(f"field ids must be dense 0..{len(self.fields) - 1}")

    def field(self, name: str) -> MiruFieldDefinition:
        for f in self.fields:
            if f.name == name:
                return f
        raise KeyError(f"schema {self.name} has no field {name!r}")

    def text_field(self) -> str:
        """The full-text field: the (single) field with Feature.cardinality —
        the reference's multiTermCardinality full-text type."""
        hits = [f.name for f in self.fields if f.has_feature("cardinality")]
        if len(hits) != 1:
            raise ValueError(
                f"schema {self.name} needs exactly one cardinality "
                f"(full-text) field, found {hits}"
            )
        return hits[0]

    def aux_fields(self) -> list[str]:
        """Indexed single-term fields → the composite-term aux mask relation
        (numeric-prefix fields compose separately, see numeric_fields)."""
        return [
            f.name
            for f in self.fields
            if f.has_feature("indexed")
            and not f.has_feature("multiValued")
            and f.prefix != "numeric"
        ]

    def numeric_fields(self) -> list[str]:
        """Indexed numeric-prefix fields → lexicographic range-scannable
        composite terms (build_index numeric_aux_fields)."""
        return [
            f.name
            for f in self.fields
            if f.has_feature("indexed")
            and not f.has_feature("multiValued")
            and f.prefix == "numeric"
        ]

    def value_bits_fields(self) -> list[str]:
        return [f.name for f in self.fields if f.has_feature("indexedValueBits")]

    def stored_fields(self) -> list[str]:
        return [f.name for f in self.fields if f.has_feature("stored")]


def resolve_fields(
    schema: MiruSchema | None,
    columns: list[str],
    text_col: str,
    aux_fields: list[str] | None,
    numeric_aux_fields: list[str] | None,
) -> tuple[str, list[str] | None, list[str] | None]:
    """Builder field selection (build_index / build_persistent): a schema
    must find every one of its fields in the source ``columns``, then it
    DRIVES the text field and fills whichever aux / numeric field lists the
    caller left None. Without a schema the arguments pass through."""
    if schema is None:
        return text_col, aux_fields, numeric_aux_fields
    missing = [f.name for f in schema.fields if f.name not in columns]
    if missing:
        raise ValueError(
            f"schema {schema.name} v{schema.version} fields missing from "
            f"source: {missing}"
        )
    return (
        schema.text_field(),
        schema.aux_fields() if aux_fields is None else aux_fields,
        schema.numeric_fields() if numeric_aux_fields is None else numeric_aux_fields,
    )


def check_additive(old: MiruSchema, new: MiruSchema) -> None:
    """MiruSchema.checkAdditive (:303-314): the new schema must keep every
    existing field at its position, identical or type-relaxed per
    isAdditiveTo; appended fields are free. Raises on violation."""
    if len(new.fields) < len(old.fields):
        raise ValueError(
            f"non-additive evolution of {old.name}: field count shrank "
            f"{len(old.fields)} → {len(new.fields)}"
        )
    for i, of in enumerate(old.fields):
        nf = new.fields[i]
        if (nf.name, nf.type, nf.prefix) == (of.name, of.type, of.prefix):
            continue
        if nf.prefix != of.prefix:
            raise ValueError(
                f"non-additive evolution of {old.name}.{of.name}: prefix "
                f"{of.prefix} → {nf.prefix} changes the term composition of "
                f"already-written postings"
            )
        if old.name != new.name or nf.name != of.name or not is_additive_to(nf.type, of.type):
            raise ValueError(
                f"non-additive evolution of {old.name}.{of.name}: "
                f"{of.type} → {nf.name}:{nf.type} (Type.isAdditiveTo refuses)"
            )


# --- registry (tenant → schema; unregistered ⇒ refused, MiruService.java:111-116)

_REGISTRY: dict[str, MiruSchema] = {}


def register_schema(schema: MiruSchema) -> MiruSchema:
    """Register (or additively evolve) a schema. Re-registration must pass
    check_additive against the currently registered version."""
    cur = _REGISTRY.get(schema.name)
    if cur is not None and schema.version >= cur.version:
        check_additive(cur, schema)
    _REGISTRY[schema.name] = schema
    return schema


def get_schema(name: str) -> MiruSchema:
    if name not in _REGISTRY:
        raise KeyError(f"schema {name!r} is not registered (queries refused)")
    return _REGISTRY[name]


def fields(*defs) -> tuple[MiruFieldDefinition, ...]:
    """Shorthand: fields(('content', 'multiTermCardinality'),
    ('lang', 'singleTerm'), ('n_chars', 'singleTermNonStored', 'numeric')) —
    the optional third element is the Prefix type."""
    return tuple(
        MiruFieldDefinition(i, d[0], d[1], d[2] if len(d) > 2 else "none")
        for i, d in enumerate(defs)
    )


# default schemas for the two corpora this engine ships with — the analog of
# DefaultMiruSchemaDefinition (m-api/.../schema/DefaultMiruSchemaDefinition.java:9-30)
DOCUMENTS_SCHEMA = MiruSchema(
    "documents",
    1,
    fields(
        ("text", "multiTermCardinality"),
        ("lang", "singleTerm"),
        ("source", "singleTerm"),
        ("n_chars", "nonIndexed"),
    ),
)

CODE_SCHEMA = MiruSchema(
    "code",  # input_hint shape: (repo, path, commit, lang, content)
    1,
    fields(
        ("content", "multiTermCardinality"),
        ("repo", "singleTerm"),
        ("path", "singleTerm"),
        ("commit", "singleTerm"),
        ("lang", "singleTerm"),
    ),
)
