"""Geo-database registry: the reference's DB-selection rules over the
converter family.

Mirrors ``ipHandle/db/db.go:46-104``: IPv4 queries go to qqwry for zh-CN
(GeoLite2 otherwise), IPv6 to zxipv6wry for zh-CN (GeoLite2 otherwise),
domains to cdn.json; explicit ``NALI_DB_IP4`` / ``NALI_DB_IP6`` names
override, with the same aliases (``geo|geoip|geoip2``,
``chunzhen|qqip|qqwry``, ``ipip|ipipfree|ipip.net``) and the same
default-to-qqwry fallback for unknown names.  ``NALI_LANG`` selects the
language exactly as the reference's init does.

Where the reference opens a handle for per-query binary search, this
registry runs the matching offline converter and hands back the interval
DataFrame for the broadcast range join — the table, not the lookup, is
the artifact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# canonical file names inside the geo-DB home (reference db.go:18-23)
QQWRY_FILE = "qqwry.dat"
ZXIPV6WRY_FILE = "zxipv6wry.db"
GEOLITE2_FILE = "GeoLite2-City.mmdb"
IPIPFREE_FILE = "ipipfree.ipdb"
CDN_FILE = "cdn.json"

_IP4_ALIASES = {
    "geo": "geoip2", "geoip": "geoip2", "geoip2": "geoip2",
    "chunzhen": "qqwry", "qqip": "qqwry", "qqwry": "qqwry",
    "ipip": "ipip", "ipipfree": "ipip", "ipip.net": "ipip",
}


def language() -> str:
    return os.environ.get("NALI_LANG", "zh-CN")


def select_ipv4_db(name: str = "", lang: str | None = None) -> str:
    """→ one of 'qqwry' | 'geoip2' | 'ipip' (reference GetDB/GetIPDBbyName:
    explicit name wins with default-to-qqwry, else zh-CN → qqwry,
    other languages → GeoLite2)."""
    name = name or os.environ.get("NALI_DB_IP4", "")
    if name:
        return _IP4_ALIASES.get(name, "qqwry")
    return "qqwry" if (lang or language()) == "zh-CN" else "geoip2"


def select_ipv6_db(name: str = "", lang: str | None = None) -> str:
    """→ 'zxipv6wry' | 'geoip2'."""
    name = name or os.environ.get("NALI_DB_IP6", "")
    if name:
        return "geoip2" if _IP4_ALIASES.get(name) == "geoip2" else "zxipv6wry"
    return "zxipv6wry" if (lang or language()) == "zh-CN" else "geoip2"


def build_ipv4_ranges(
    spark: SparkSession, home: str, db_name: str = "", lang: str | None = None
) -> DataFrame:
    """Convert the selected IPv4 database under ``home`` into the
    (ip_start, ip_end, loc, isp) interval table for ``enrich.enrich_ips``."""
    selected = select_ipv4_db(db_name, lang)
    if selected == "qqwry":
        from .qqwry import qqwry_to_dataframe

        return qqwry_to_dataframe(spark, os.path.join(home, QQWRY_FILE))
    if selected == "ipip":
        from .ipdb import ipdb_to_dataframe

        return ipdb_to_dataframe(spark, os.path.join(home, IPIPFREE_FILE))
    from .geolite2 import geolite2_to_dataframe

    return geolite2_to_dataframe(spark, os.path.join(home, GEOLITE2_FILE))


def build_ipv6_ranges(
    spark: SparkSession, home: str, db_name: str = "", lang: str | None = None
) -> DataFrame:
    """Convert the selected IPv6 database into the hi-64-keyed interval
    table for ``enrich.enrich_ipv6``: zxipv6wry for zh-CN, the GeoLite2
    IPv6-subtree enumeration otherwise — both emit the same
    (ip_hi_start, ip_hi_end, loc, isp) decimal(20,0) shape."""
    selected = select_ipv6_db(db_name, lang)
    if selected == "zxipv6wry":
        from .zxipv6wry import zxipv6wry_to_dataframe

        return zxipv6wry_to_dataframe(spark, os.path.join(home, ZXIPV6WRY_FILE))
    from .geolite2 import geolite2_v6_to_dataframe

    return geolite2_v6_to_dataframe(spark, os.path.join(home, GEOLITE2_FILE))
