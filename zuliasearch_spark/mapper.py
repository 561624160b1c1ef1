"""Typed object mapper (zulia-client ``io.zulia.fields`` analogue).

Reference parity: the reference's client SDK maps annotated POJOs to
index settings and stored documents — ``Mapper.java`` walks a class's
fields for ``@UniqueId`` / ``@Indexed`` (repeatable, analyzerName +
fieldName) / ``@DefaultSearch`` / ``@Faceted`` / ``@Sorted`` /
``@Embedded`` / ``@AsField`` / ``@NotSaved`` plus the class-level
``@Settings`` (indexName, numberOfShards, requestFactor, …), builds a
``ClientIndexConfig`` (createOrUpdateIndex), and converts objects to
BSON documents and back (``GsonDocumentMapper``; ``MapperTest``).

The Python re-expression uses dataclasses: annotations become
``dataclasses.field(metadata=...)`` helpers (:func:`unique_id`,
:func:`indexed`, :func:`embedded`, :func:`not_saved`) and the
class-level decorator :func:`settings`. :class:`Mapper` performs the
same validations (exactly one string unique-id field, DefaultSearch
only on Indexed fields, no AsField/Embedded on the unique id, no
index annotations on Embedded fields), derives the engine's
:class:`~zuliasearch_spark.config.IndexConfig`, and converts objects
to/from plain dicts (Spark Rows) with type restoration driven by the
dataclass annotations — including ``set[...]`` round-trips (stored as
lists, like BSON) and ``datetime`` values, matching MapperTest's
field4/field5 expectations. ``@Embedded`` nests a child dataclass as
a sub-document while its field configs flatten to ``parent.child``
names, mirroring ``FieldConfigMapper``'s prefix composition.
"""

from __future__ import annotations

import dataclasses
import datetime as _dt
import typing
from dataclasses import MISSING

from zuliasearch_spark.config import FieldConfig, IndexAs, IndexConfig

_META = "zulia"


# ---- annotation helpers (fields/annotations/*.java) ---------------------


def _field(meta: dict, default=MISSING, default_factory=MISSING):
    kw = {"metadata": {_META: meta}}
    if default is not MISSING:
        kw["default"] = default
    if default_factory is not MISSING:
        kw["default_factory"] = default_factory
    return dataclasses.field(**kw)


def unique_id(default=MISSING):
    """@UniqueId — exactly one per class, must be ``str``."""
    return _field({"unique_id": True}, default=default)


def indexed(
    analyzer: str = "standard",
    field_name: str | None = None,
    default_search: bool = False,
    faceted: bool = False,
    facet_name: str | None = None,
    sorted: bool = False,
    as_field: str | None = None,
    default=MISSING,
    default_factory=MISSING,
):
    """@Indexed (+ optional @DefaultSearch/@Faceted/@Sorted/@AsField).

    ``field_name`` names the indexed-as projection (Indexed.fieldName);
    ``as_field`` renames the STORED field (@AsField.value)."""
    return _field(
        {
            "indexed": [{"analyzer": analyzer, "field_name": field_name}],
            "default_search": default_search,
            "faceted": faceted,
            "facet_name": facet_name,
            "sorted": sorted,
            "as_field": as_field,
        },
        default=default,
        default_factory=default_factory,
    )


def stored(as_field: str | None = None, faceted: bool = False,
           sorted: bool = False, default=MISSING, default_factory=MISSING):
    """A stored-only field (no @Indexed): fetchable, facetable,
    sortable — never searched by text."""
    return _field(
        {"faceted": faceted, "sorted": sorted, "as_field": as_field},
        default=default,
        default_factory=default_factory,
    )


def embedded(default=MISSING, default_factory=MISSING):
    """@Embedded — a nested dataclass stored as a sub-document; its
    own annotations flatten to ``parent.child`` field configs."""
    return _field({"embedded": True}, default=default, default_factory=default_factory)


def not_saved(default=MISSING, default_factory=MISSING):
    """@NotSaved — excluded from the stored document entirely."""
    return _field({"not_saved": True}, default=default, default_factory=default_factory)


def settings(
    index_name: str,
    number_of_shards: int = 1,
    request_factor: float = 2.0,
    min_shard_request: int = 2,
    shard_tolerance: float = 0.0,
    shard_query_cache_size: int = 512,
    shard_query_cache_max_amount: int = 256,
    **extra,
):
    """@Settings — class decorator carrying the index-level config
    (Settings.java names, mapped onto IndexConfig's knobs)."""

    def wrap(cls):
        cls.__zulia_settings__ = {
            "index_name": index_name,
            "number_of_shards": number_of_shards,
            "request_factor": request_factor,
            "min_shard_request": min_shard_request,
            "shard_tolerance": shard_tolerance,
            "query_cache_size": shard_query_cache_size,
            "query_cache_max_amount": shard_query_cache_max_amount,
            **extra,
        }
        return cls

    return wrap


# ---- the mapper ---------------------------------------------------------


def _meta(f: dataclasses.Field) -> dict:
    return f.metadata.get(_META, {})


class Mapper:
    """Map one dataclass type ↔ documents + index config
    (Mapper.java / FieldConfigMapper.java / GsonDocumentMapper)."""

    def __init__(self, cls):
        if not dataclasses.is_dataclass(cls):
            raise TypeError(f"Mapper requires a dataclass, got {cls!r}")
        self.cls = cls
        self.hints = typing.get_type_hints(cls)
        self.unique_id_attr: str | None = None
        self.default_search: list[str] = []
        self.field_configs: list[FieldConfig] = []
        self._walk(cls, prefix="")
        if self.unique_id_attr is None:
            raise TypeError(f"A unique id field must be defined for class <{cls.__name__}>")

    # -- class walking (Mapper ctor + FieldConfigMapper.setupField) ------

    def _walk(self, cls, prefix: str) -> None:
        hints = typing.get_type_hints(cls)
        for f in dataclasses.fields(cls):
            m = _meta(f)
            if m.get("not_saved"):
                continue
            stored_name = m.get("as_field") or f.name
            if prefix:
                stored_name = f"{prefix}.{stored_name}"
            if m.get("unique_id"):
                if prefix:
                    raise TypeError("UniqueId cannot live on an Embedded field")
                if m.get("as_field"):
                    raise TypeError(
                        f"Cannot use AsField with UniqueId on field <{f.name}> "
                        f"for class <{cls.__name__}>"
                    )
                if hints.get(f.name) is not str:
                    raise TypeError(
                        f"Unique id field must be a str in class <{cls.__name__}>"
                    )
                if self.unique_id_attr is not None:
                    raise TypeError(
                        f"Cannot define two unique id fields for class <{cls.__name__}>"
                    )
                self.unique_id_attr = f.name
                continue
            if m.get("embedded"):
                if m.get("indexed") or m.get("faceted") or m.get("default_search"):
                    raise TypeError(
                        f"Cannot use Indexed/Faceted/DefaultSearch on embedded "
                        f"field <{f.name}> for class <{cls.__name__}>"
                    )
                sub = hints[f.name]
                if not dataclasses.is_dataclass(sub):
                    raise TypeError(f"Embedded field <{f.name}> must be a dataclass")
                self._walk(sub, prefix=stored_name)
                continue
            index_as = tuple(
                IndexAs(spec["field_name"] or stored_name, spec["analyzer"])
                for spec in m.get("indexed", [])
            )
            if m.get("default_search"):
                if not index_as:
                    raise TypeError(
                        f"DefaultSearch must be on an Indexed field <{f.name}> "
                        f"for class <{cls.__name__}>"
                    )
                self.default_search.extend(ia.indexed_field_name for ia in index_as)
            if not m:
                continue  # plain dataclass field: stored, no config row
            self.field_configs.append(
                FieldConfig(
                    stored_name,
                    index_as=index_as,
                    facet_as=((m.get("facet_name") or stored_name,) if m.get("faceted") else ()),
                    sort_as=((stored_name,) if m.get("sorted") else ()),
                )
            )

    # -- index config (createOrUpdateIndex) ------------------------------

    def index_config(self) -> IndexConfig:
        s = getattr(self.cls, "__zulia_settings__", None)
        if s is None:
            raise TypeError(f"No Settings annotation for class <{self.cls.__name__}>")
        return IndexConfig(
            unique_id_col=self.unique_id_attr,
            default_search_fields=tuple(self.default_search),
            field_configs=tuple(self.field_configs),
            **s,
        )

    # -- object -> document (toDocument / toResultDocumentBuilder) -------

    def to_document(self, obj) -> dict:
        """Stored-document dict: unique id under its attr name, sets
        as sorted lists (deterministic; BSON stores sets as arrays),
        embedded dataclasses as nested dicts, NotSaved dropped."""
        return self._to_doc(obj)

    def _to_doc(self, obj) -> dict:
        out = {}
        for f in dataclasses.fields(obj):
            m = _meta(f)
            if m.get("not_saved"):
                continue
            name = m.get("as_field") or f.name
            if m.get("unique_id"):
                name = f.name
            v = getattr(obj, f.name)
            if m.get("embedded") and v is not None:
                v = self._to_doc(v)
            elif isinstance(v, (set, frozenset)):
                v = sorted(v)
            out[name] = v
        return out

    # -- document -> object (fromDocument) -------------------------------

    def from_document(self, doc: dict):
        return self._from_doc(self.cls, doc)

    def _from_doc(self, cls, doc: dict):
        hints = typing.get_type_hints(cls)
        kw = {}
        for f in dataclasses.fields(cls):
            m = _meta(f)
            name = f.name if m.get("unique_id") else (m.get("as_field") or f.name)
            if m.get("not_saved") or name not in doc or doc[name] is None:
                continue
            kw[f.name] = self._coerce(hints[f.name], doc[name], m)
        return cls(**kw)

    def _coerce(self, hint, v, m: dict):
        origin = typing.get_origin(hint)
        args = typing.get_args(hint)
        if m.get("embedded") or dataclasses.is_dataclass(hint):
            return self._from_doc(hint, dict(v))
        if origin in (set, frozenset):
            inner = args[0] if args else None
            vals = [self._coerce(inner, x, {}) if inner else x for x in v]
            return origin(vals)
        if origin in (list, tuple):
            inner = args[0] if args else None
            vals = [self._coerce(inner, x, {}) if inner else x for x in v]
            return origin(vals) if origin is tuple else vals
        if hint is _dt.datetime and not isinstance(v, _dt.datetime):
            return _dt.datetime.fromisoformat(str(v))
        if hint in (int, float, str, bool) and v is not None:
            return hint(v)
        return v

    # -- Spark integration (createStore analogue) ------------------------

    def to_rows(self, objects) -> list[dict]:
        """Documents for a DataFrame batch: set/embedded handling as
        to_document; feed to ``spark.createDataFrame`` or a JSONL
        writer for the store/index paths."""
        return [self.to_document(o) for o in objects]

    def from_row(self, row):
        """One fetched Spark Row (or dict) back into the dataclass;
        engine meta columns are ignored."""
        d = row if isinstance(row, dict) else row.asDict(recursive=True)
        d = {k: v for k, v in d.items() if k not in ("shard", "doc_id", "content_sha256")}
        if "uniqueId" in d and self.unique_id_attr not in d:
            d[self.unique_id_attr] = d.pop("uniqueId")
        return self.from_document(d)


# ---------------------------------------------------------------------------
# DocumentHelper dot-path access (zulia-util document/DocumentHelper.java)


def document_path_col(df, path: str, retain_null_and_empty: bool = False):
    """Dot-path value extraction over nested struct/array columns —
    ``DocumentHelper.getValueFromMongoDocument`` (DocumentHelper.java
    :17-40, getChild :106-149) as ONE Catalyst expression:

    - each path step descends a struct field;
    - a step through an ARRAY of structs maps the field over the
      items (the reference returns the List of child values), nested
      list levels flattening into one list;
    - by default (``retain_null_and_empty=False``, the reference's
      common call shape) null items and empty strings are dropped
      from list results, and an all-dropped list collapses to NULL;
    - a missing field anywhere on the path raises (Spark is typed —
      the schemaless-BSON "absent field" is a NULL-typed column, not
      an unknown name).

    Pure codegen: the extraction runs inside whole-stage codegen on
    executors; nothing touches Python at row time.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StringType, StructType

    def _getter(s):
        return lambda x: x[s]

    parts = path.split(".")
    dt = df.schema
    col = None
    in_list = False  # col currently holds ONE list of values
    for step in parts:
        # array wrappers on dt are already folded into in_list
        while isinstance(dt, ArrayType):
            dt = dt.elementType
        if not isinstance(dt, StructType) or step not in dt.fieldNames():
            raise ValueError(
                f"path {path!r}: no field {step!r} at this level "
                f"(have {dt.fieldNames() if isinstance(dt, StructType) else dt.simpleString()})"
            )
        field_type = dt[step].dataType
        if col is None:
            col = F.col(f"`{step}`")
            in_list = isinstance(field_type, ArrayType)
        elif in_list:
            col = F.transform(col, _getter(step))
            # the per-item child may itself be a list: flatten every
            # such level back into the ONE list (a Spark array is
            # homogeneous, so the reference's occasional
            # list-containing-a-list value becomes the flat value
            # list — documented shape deviation). Null sublists are
            # dropped FIRST: Spark's flatten nulls out the whole
            # result on a null element, where getChild just skips it.
            t = field_type
            while isinstance(t, ArrayType):
                col = F.flatten(F.filter(col, lambda x: x.isNotNull()))
                t = t.elementType
        else:
            col = col[step]
            in_list = isinstance(field_type, ArrayType)
        dt = field_type
    while isinstance(dt, ArrayType):
        dt = dt.elementType
    if in_list and not retain_null_and_empty:
        if isinstance(dt, StringType):
            col = F.filter(col, lambda x: x.isNotNull() & (x != ""))
        else:
            col = F.filter(col, lambda x: x.isNotNull())
        col = F.when(F.size(col) > 0, col)  # empty list -> NULL
    return col


def flatten_document_columns(
    df, paths=None, separator: str = "__", retain_null_and_empty: bool = False
):
    """Materialize nested dot-paths as top-level columns so the index
    builder (which wants flat, Spark-safe column names) can store and
    index them while QUERIES keep the reference's dotted field names:

        df2 = flatten_document_columns(df, ["address.city"])
        FieldConfig("address__city",
                    index_as=(IndexAs("address.city", "lcKeyword"),))
        engine.search_string("address.city:paris")

    ``paths=None`` discovers every leaf path under struct columns.
    Returns the augmented DataFrame; the added column for path ``p``
    is ``p.replace(".", separator)``.
    """
    from pyspark.sql.types import ArrayType, StructType

    if paths is None:
        paths = []

        def walk(dt, prefix):
            while isinstance(dt, ArrayType):
                dt = dt.elementType
            if isinstance(dt, StructType):
                for f in dt.fields:
                    walk(f.dataType, f"{prefix}.{f.name}" if prefix else f.name)
            elif prefix and "." in prefix:
                paths.append(prefix)

        for f in df.schema.fields:
            walk(f.dataType, f.name)
    for p in paths:
        df = df.withColumn(
            p.replace(".", separator),
            document_path_col(df, p, retain_null_and_empty=retain_null_and_empty),
        )
    return df
