"""Structured Streaming surface (SURVEY.md §2.10).

The crawl loop's streaming face lives in plans.crawl_loop.CrawlJob
.run_streaming (foreachBatch over a tick stream → one committed crawl round
per batch). This package adds the stream-analytics operators a live crawl
emits: windowed fetch-rate metrics with watermarked late-data handling.
"""
