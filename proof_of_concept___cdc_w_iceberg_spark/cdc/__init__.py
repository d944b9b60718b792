from .apply import apply_changes, compact_latest, merge_upsert  # noqa: F401
from .envelope import (  # noqa: F401
    ENVELOPE_SCHEMA,
    decode_envelope,
    encode_envelope,
    envelope_changes,
    is_malformed,
    parse_envelopes,
)
