"""XML read/write options.

Mirrors the public option surface of databricks/spark-xml
(reference: /root/reference/src/main/scala/com/databricks/spark/xml/XmlOptions.scala:24-83,
README.md:34-101), re-expressed as a Python dataclass. Validation rules follow
XmlOptions.scala:33-54 (non-empty rowTag/valueTag, no angle brackets,
valueTag != attributePrefix).
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields
from typing import Optional

PERMISSIVE = "PERMISSIVE"
DROPMALFORMED = "DROPMALFORMED"
FAILFAST = "FAILFAST"
_PARSE_MODES = {PERMISSIVE, DROPMALFORMED, FAILFAST}

DEFAULT_ATTRIBUTE_PREFIX = "_"
DEFAULT_VALUE_TAG = "_VALUE"
DEFAULT_ROW_TAG = "ROW"
DEFAULT_ROOT_TAG = "ROWS"
DEFAULT_DECLARATION = 'version="1.0" encoding="UTF-8" standalone="yes"'
DEFAULT_ARRAY_ELEMENT_NAME = "item"
DEFAULT_CHARSET = "UTF-8"
DEFAULT_WILDCARD_COL_NAME = "xs_any"

_TRUE = {"true", "1", "yes"}


def _to_bool(v) -> bool:
    if isinstance(v, bool):
        return v
    return str(v).strip().lower() in _TRUE


def get_option(opts: dict, *names):
    """The first of ``names`` set in ``opts``, else None. Spark may hand
    over lower-cased option keys (CaseInsensitiveDict), so each name is
    looked up as written and lower-cased."""
    for n in names:
        v = opts.get(n) or opts.get(n.lower())
        if v is not None:
            return v
    return None


@dataclass
class XmlOptions:
    """Options accepted by the XML source/sink and column functions.

    Read options (XmlOptions.scala:30-68): row_tag, charset, sampling_ratio,
    exclude_attribute, treat_empty_values_as_nulls, attribute_prefix,
    value_tag, null_value, column_name_of_corrupt_record,
    ignore_surrounding_spaces, mode, infer_schema, row_validation_xsd_path,
    wildcard_col_name, ignore_namespace, timestamp_format, timezone,
    date_format; plus ``locale`` (BCP-47 tag, e.g. "fr-FR"): the
    NumberFormat-style fallback for float/double/decimal uses that
    locale's decimal/grouping separators instead of the reference's
    JVM-default-locale behavior (TypeCast.scala:57-60) — an explicit
    option is deterministic across executors where a JVM default is not.

    Write options: root_tag (may embed literal attributes, e.g.
    ``"books foo='bar'"`` — XmlFile.scala:88-101), declaration,
    array_element_name, compression, indent (pretty-print with the
    reference's 4-space IndentingXMLStreamWriter layout,
    XmlFile.scala:86,108-109; off by default here — one row per line).
    """

    row_tag: str = DEFAULT_ROW_TAG
    root_tag: str = DEFAULT_ROOT_TAG
    declaration: str = DEFAULT_DECLARATION
    array_element_name: str = DEFAULT_ARRAY_ELEMENT_NAME
    charset: str = DEFAULT_CHARSET
    sampling_ratio: float = 1.0
    exclude_attribute: bool = False
    treat_empty_values_as_nulls: bool = False
    attribute_prefix: str = DEFAULT_ATTRIBUTE_PREFIX
    value_tag: str = DEFAULT_VALUE_TAG
    null_value: Optional[str] = None
    column_name_of_corrupt_record: str = "_corrupt_record"
    ignore_surrounding_spaces: bool = False
    mode: str = PERMISSIVE
    infer_schema: bool = True
    row_validation_xsd_path: Optional[str] = None
    wildcard_col_name: str = DEFAULT_WILDCARD_COL_NAME
    ignore_namespace: bool = False
    timestamp_format: Optional[str] = None
    timezone: Optional[str] = None
    date_format: Optional[str] = None
    compression: Optional[str] = None
    indent: bool = False
    locale: Optional[str] = None

    def __post_init__(self) -> None:
        if not self.row_tag:
            raise ValueError("'rowTag' option should not be empty string.")
        if self.row_tag.startswith("<") or self.row_tag.endswith(">"):
            raise ValueError("'rowTag' should not include angle brackets")
        if self.root_tag.startswith("<") or self.root_tag.endswith(">"):
            raise ValueError("'rootTag' should not include angle brackets")
        if self.declaration.startswith("<") or self.declaration.endswith(">"):
            raise ValueError("'declaration' should not include angle brackets")
        if not self.value_tag:
            raise ValueError("'valueTag' option should not be empty string.")
        if self.value_tag == self.attribute_prefix:
            raise ValueError(
                "'valueTag' and 'attributePrefix' options should not be the same."
            )
        if self.sampling_ratio <= 0:
            raise ValueError(
                f"samplingRatio ({self.sampling_ratio}) should be greater than 0"
            )
        self.mode = self.mode.upper()
        if self.mode not in _PARSE_MODES:
            raise ValueError(f"mode must be one of {_PARSE_MODES}, got {self.mode}")
        if not self.attribute_prefix:
            # Required non-empty for the writer's attribute/element partition
            # (StaxXmlGenerator.scala:45-46); empty also breaks the reader.
            raise ValueError("'attributePrefix' option should not be empty string.")
        if self.compression:
            # case-insensitive, and accept Hadoop codec class names like the
            # reference's "codec" option (XmlOptions.scala:31,
            # CompressionCodecs resolution); unknown codecs raise instead of
            # silently writing uncompressed output
            from spark_xml_spark.xmlcore import codecs as _codecs

            self.compression = _codecs.normalize(self.compression)

    # camelCase (reference spelling) -> snake_case field name
    _ALIASES = {
        "rowTag": "row_tag",
        "rootTag": "root_tag",
        "declaration": "declaration",
        "arrayElementName": "array_element_name",
        "charset": "charset",
        "encoding": "charset",
        "samplingRatio": "sampling_ratio",
        "excludeAttribute": "exclude_attribute",
        "treatEmptyValuesAsNulls": "treat_empty_values_as_nulls",
        "attributePrefix": "attribute_prefix",
        "valueTag": "value_tag",
        "nullValue": "null_value",
        "columnNameOfCorruptRecord": "column_name_of_corrupt_record",
        "ignoreSurroundingSpaces": "ignore_surrounding_spaces",
        "mode": "mode",
        "inferSchema": "infer_schema",
        "rowValidationXSDPath": "row_validation_xsd_path",
        "wildcardColName": "wildcard_col_name",
        "ignoreNamespace": "ignore_namespace",
        "timestampFormat": "timestamp_format",
        "timezone": "timezone",
        "dateFormat": "date_format",
        "compression": "compression",
        "codec": "compression",
        "indent": "indent",
        "locale": "locale",
    }

    _BOOL_FIELDS = {
        "exclude_attribute",
        "treat_empty_values_as_nulls",
        "ignore_surrounding_spaces",
        "infer_schema",
        "ignore_namespace",
        "indent",
    }

    @classmethod
    def from_dict(cls, params: dict) -> "XmlOptions":
        """Build from a camelCase or snake_case option dict (string values ok).

        Keys are matched case-insensitively: Spark's Python DataSource hands
        options to the reader lower-cased (CaseInsensitiveDict)."""
        snake_names = {f.name for f in fields(cls)}
        lower_aliases = {k.lower(): v for k, v in cls._ALIASES.items()}
        lower_snake = {n.lower(): n for n in snake_names}
        kwargs = {}
        for k, v in (params or {}).items():
            if v is None:
                continue
            kl = k.lower()
            name = lower_aliases.get(kl, lower_snake.get(kl))
            if name is None:
                continue  # unknown options are ignored, like the reference
            if name in cls._BOOL_FIELDS:
                v = _to_bool(v)
            elif name == "sampling_ratio":
                v = float(v)
            else:
                v = str(v)
            kwargs[name] = v
        return cls(**kwargs)

    def to_dict(self) -> dict:
        """camelCase dict of non-default options (for passing through Spark)."""
        out = {}
        rev: dict = {}
        for k, v in self._ALIASES.items():
            rev.setdefault(v, k)  # first alias wins (charset, not encoding)
        defaults = XmlOptions()
        for f in fields(self):
            v = getattr(self, f.name)
            if v != getattr(defaults, f.name):
                out[rev.get(f.name, f.name)] = str(v) if not isinstance(v, bool) else str(v).lower()
        return out
