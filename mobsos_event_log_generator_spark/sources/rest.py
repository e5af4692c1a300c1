"""REST dimension source: bot-manager ``/bots`` resolver.

Reference behavior (app.py:233-265): GET ``{bot_manager_url}/bots`` returns a
JSON dict ``{resource_id: {"name": botName, ...}, ...}``; entries whose value is
a dict with ``value["name"] == botName`` contribute their key as a resource id;
malformed JSON resolves to ``[]`` (app.py:263-265).

This is a tiny driver-side dimension (dozens of bots): it is fetched and
resolved on the driver, and must never be a distributed read.
``resolve_bot_resources`` is pure on the parsed payload so it is
unit-testable without HTTP; ``fetch_bots`` does the network call (gated
import so the engine has no hard dependency on ``requests``/network).
"""

from __future__ import annotations

from typing import Any


def resolve_bot_resources(bots_payload: Any, bot_name: str) -> list[str]:
    """Resource ids whose entry names ``bot_name``.

    Mirrors app.py:256-261: non-dict values and entries without ``"name"`` are
    skipped; a non-dict payload (malformed JSON) yields ``[]``.
    """
    if not isinstance(bots_payload, dict):
        return []
    out: list[str] = []
    for resource_id, value in bots_payload.items():
        if isinstance(value, dict) and value.get("name") == bot_name:
            out.append(str(resource_id))
    return out


def fetch_bots(bot_manager_url: str, timeout: float = 10.0) -> Any:
    """GET ``{bot_manager_url}/bots`` and parse JSON (app.py:251-253)."""
    import json
    import urllib.request

    url = bot_manager_url.rstrip("/") + "/bots"
    try:
        with urllib.request.urlopen(url, timeout=timeout) as resp:
            return json.loads(resp.read().decode("utf-8"))
    except Exception:
        return {}

