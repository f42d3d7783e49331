"""Where the reference script lives, for the gates that run it.

The parity gates run the reference's `select_xbrl_tags.py` (offline,
`--facts` + `--subs-cache-dir`) as their oracle. Where it is absent,
the gates whose answer a committed golden holds read the golden
(conftest's `reference_tags` / `reference_triples`); the others skip
with `REFERENCE_ABSENT` as the reason.
"""

import pathlib

REFERENCE_SCRIPT = pathlib.Path("/root/reference/scripts/select_xbrl_tags.py")
REFERENCE_ABSENT = f"reference script {REFERENCE_SCRIPT} is absent"
