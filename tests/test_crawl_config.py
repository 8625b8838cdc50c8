"""CrawlConfig rejects a mistyped mode or an unsatisfiable option pair
at construction, before any Spark work (no session needed)."""

import pytest

from webcrawlergo_spark.plans.wave import CrawlConfig

BASE = "https://site.test"


@pytest.mark.parametrize(
    "kwargs, message",
    [
        ({"seen_mode": "bloom"}, "cuckoo"),
        ({"seen_mode": "exaxt"}, "seen_mode"),
        ({"content_minhash": True}, "analyze_pages"),
    ],
)
def test_bad_config_is_rejected(kwargs, message):
    with pytest.raises(ValueError, match=message):
        CrawlConfig(base_url=BASE, **kwargs)

